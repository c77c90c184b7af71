package graft

import graft.functions.TextSignatures
import graft.ops.LlmOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The dedup text kernels (word-array shingling, `graft_minhash`,
  * `graft_simhash`) must reproduce the forms they replaced exactly. The
  * replaced forms live on here as the references: the per-element
  * re-split shingle expression, the explode + 64-column `min` aggregate,
  * and the nested `aggregate`/`transform` vote. Inputs are the fixture
  * corpus plus the edge rows a corpus can carry: NULL, empty and
  * whitespace-only text, multi-byte unicode, 1- and 2-word texts, a NULL
  * array element, an empty array and a repeated doc_id. Each kernel check
  * runs under whole-stage codegen and under the interpreted path. */
class TextKernelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private val edgeTexts: Seq[(Long, String)] = Seq(
    (900001L, null), (900002L, ""), (900003L, "  \t "),
    (900004L, "café áccent שלום مرحبا 𝄞音楽 🎵 ﬀligature"),
    (900005L, "one"), (900006L, "two words"), (900007L, "exactly three words"),
    (900008L, "a a a a a a"), (900009L, "double  space  inside  here"),
    (900011L, "a  b"), (900012L, " lead trail "), (900013L, "one space"),
    // a repeated doc_id with different text
    (900010L, "the first copy of a repeated id"),
    (900010L, "and a second text under the same id"))

  private def corpus: DataFrame = {
    import spark.implicits._
    Tables.documentsWide(spark, d).select(col("doc_id"), col("text"))
      .unionByName(edgeTexts.toDF("doc_id", "text"))
  }

  /** Shingle arrays the text path cannot produce: a NULL element, an
    * empty array, a NULL array, and a repeated doc_id. */
  private def edgeShingles: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(910001L, Seq("a b c", null, "d e f")), Row(910002L, Seq.empty[String]),
      Row(910003L, null), Row(910004L, Seq(null)),
      Row(910005L, Seq("x y z")), Row(910005L, Seq("p q r", "s t u")))),
    StructType(Seq(StructField("doc_id", LongType),
                   StructField("sh", ArrayType(StringType, containsNull = true)))))

  private def retiredShingles(text: Column): Column = {
    val ws = split(text, " ")
    when(size(ws) >= 3,
      array_distinct(transform(
        sequence(lit(0), size(ws) - 3),
        i => concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3)))))
      .otherwise(array().cast("array<string>"))
  }

  private def retiredBandedSigs(docs: DataFrame): DataFrame = {
    import TextSignatures.{hashA, hashB, MinhashK, P}
    val minCols = (0 until MinhashK).map { i =>
      min(pmod(col("h") * hashA(i) + hashB(i), lit(P))).as(s"sig$i")
    }
    val sigs = docs
      .select(col("doc_id"), explode(col("sh")).as("sv"))
      .select(col("doc_id"), pmod(xxhash64(col("sv")), lit(P)).as("h"))
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
    val bandStructs = (0 until 16).map { j =>
      val slots = (0 until 4).map(r => col(s"sig${j * 4 + r}"))
      struct(lit(j).as("band"), hash(slots :+ lit(j): _*).as("bh"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private val retiredVote = expr(
    """aggregate(
         transform(sequence(0, 59), b -> CASE WHEN
           aggregate(harr, CAST(0 AS BIGINT),
                     (acc, x) -> acc + 2 * ((x >> b) & 1) - 1) > 0
           THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END),
         CAST(0 AS BIGINT), (a, b) -> a + b)""")

  /** Rows as a sorted multiset of strings (arrays rendered element-wise). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  /** Runs `body` under whole-stage codegen, then fully interpreted. */
  private def bothPaths(body: String => Unit): Unit =
    for ((tag, wholeStage, factory) <- Seq(("codegen", "true", "CODEGEN_ONLY"),
                                           ("interpreted", "false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try body(tag) finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  test("shingles over a projected word array equal the re-split expression") {
    val c = corpus
    val fresh = c.select(col("doc_id"), LlmOps.words(col("text")).as("ws"))
      .select(col("doc_id"), LlmOps.shingles(col("ws")).as("sh"))
    val retired = c.select(col("doc_id"), retiredShingles(col("text")).as("sh"))
    assert(rows(fresh) === rows(retired))
    // and the frame the dedup keys read: rows with >=1 shingle only
    val shingled = rows(LlmOps.shingledOf(c))
    assert(shingled === rows(retired.filter(size(col("sh")) > 0)))
    assert(shingled.exists(_.startsWith("900007|")) && !shingled.exists(_.startsWith("900006|")))
  }

  test("graft_minhash + bandedSigs equal the explode + 64-min aggregate") {
    val sh = LlmOps.shingledOf(corpus).unionByName(edgeShingles)
    val retired = rows(retiredBandedSigs(sh))
    bothPaths { tag =>
      assert(rows(LlmOps.bandedSigs(sh)) === retired, tag)
    }
    // the repeated id merges into one signature: 16 bands, not 32
    assert(retired.count(_.startsWith("910005|")) === 16)
    assert(!retired.exists(r => r.startsWith("910002|") || r.startsWith("910003|")))
  }

  test("graft_minhash: slot values equal the retired per-slot minima; NULL for no shingles") {
    import TextSignatures.{hashA, hashB, MinhashK, P}
    val sh = LlmOps.shingledOf(corpus)
    val retired = sh.select(col("doc_id"), explode(col("sh")).as("sv"))
      .select(col("doc_id"), pmod(xxhash64(col("sv")), lit(P)).as("h"))
      .groupBy("doc_id")
      .agg(array((0 until MinhashK).map(i =>
        min(pmod(col("h") * hashA(i) + hashB(i), lit(P)))): _*).as("mh"))
      .filter(col("doc_id") =!= 900010L)
    val expected = rows(retired)
    bothPaths { tag =>
      val got = sh.filter(col("doc_id") =!= 900010L)
        .select(col("doc_id"), call_function("graft_minhash", col("sh")).as("mh"))
      assert(rows(got) === expected, tag)
      val edge = edgeShingles.filter(col("doc_id").isin(910002L, 910003L))
        .select(call_function("graft_minhash", col("sh")).as("mh")).collect()
      assert(edge.length === 2 && edge.forall(_.isNullAt(0)), tag)
    }
  }

  for (impl <- Seq("md5", "xxhash64")) {
    test(s"graft_simhash equals the higher-order vote under $impl") {
      val tok = LlmOps.tokenHashesOf(corpus, impl)
      val edge = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(920001L, null), Row(920002L, Seq.empty[java.lang.Long]),
          Row(920003L, Seq[java.lang.Long](7L, null, 7L)),
          Row(920004L, Seq[java.lang.Long](-1L, 0L, -1L)),
          Row(920005L, Seq[java.lang.Long](1L << 59, 1L << 59, 3L)))),
        StructType(Seq(StructField("doc_id", LongType),
                       StructField("harr", ArrayType(LongType, containsNull = true)))))
      val all = tok.unionByName(edge)
      val expected = rows(all.select(col("doc_id"), retiredVote.as("sig")))
      bothPaths { tag =>
        try assert(rows(LlmOps.simhashSigsOf(all)) === expected, s"$impl/$tag")
        finally graft.api.Graft.clearCaches()
      }
      assert(expected.contains("920001|0") && expected.contains("920003|0"))
    }
  }
}
