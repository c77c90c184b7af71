package graft

import graft.functions.{CosineSimilarity, MinHashSignature, PosTokenize, SimHashVote}
import graft.plans.{AsOfJoinStrategy, AsOfSqlParser, CosineBandedJoin, HammingBandedJoin, MvRewrite}
import graft.streaming.LocalCheckpointFileManager
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Production registration path for this library's Catalyst extensions:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * injects the functions, rules and strategies the companion declares into
  * every session built from that config, plus the `ASOF [LEFT] JOIN` SQL
  * parser, which only a session built with the extension can carry.
  * Sessions built without it get the same functions, rules and strategies
  * from [[graft.api.Graft.register]]. The companion's checkpoint file
  * manager is a session conf, not an injection: [[graft.LocalSpark]] sets
  * it at build time and `Graft.register` on a session that has none.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // Injected rules run inside the operator-optimization fixpoint, so they
    // see the pushed-into-join predicate shape after the first iteration;
    // all are idempotent via their own markers.
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    // Every statement that is not an ASOF JOIN delegates untouched to
    // Spark's parser.
    ext.injectParser((session, delegate) => new AsOfSqlParser(session, delegate))
  }
}

/** The engine's one declaration of its Catalyst extensions. */
object GraftExtensions {
  /** `graft_cosine` (codegen'd vector cosine), `graft_pos_tokenize`
    * (a Generator planned as a native Generate node), and the dedup
    * signature kernels `graft_minhash` (shingle array → 64 MinHash minima)
    * and `graft_simhash` (token-hash array → 60-bit SimHash). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      c => CosineSimilarity(c(0), c(1))),
    (FunctionIdentifier("graft_pos_tokenize"),
      new ExpressionInfo(classOf[PosTokenize].getName, "graft_pos_tokenize"),
      c => PosTokenize(c.head)),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      c => MinHashSignature(c.head)),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashVote].getName, "graft_simhash"),
      c => SimHashVote(c.head)))

  /** The banded-join rewrites and the materialized-view substitution. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(HammingBandedJoin, CosineBandedJoin, MvRewrite)

  /** Plans `graft.plans.AsOfJoin` nodes as the native `AsOfJoinExec`. */
  val strategies: Seq[SparkStrategy] = Seq(AsOfJoinStrategy)

  /** Spark's `spark.sql.streaming.checkpointFileManagerClass`, set to the
    * manager that writes local checkpoints through java.nio (no `chmod`
    * process per file) and leaves every other scheme to Spark's own.
    * `CheckpointFileManager.create` reads it from the session's Hadoop
    * conf, so it covers the offset and commit logs, stream metadata, the
    * state stores, state-schema metadata and the file sink's log. */
  val checkpointFileManager: (String, String) =
    LocalCheckpointFileManager.ConfKey -> classOf[LocalCheckpointFileManager].getName
}
