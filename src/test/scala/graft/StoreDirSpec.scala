package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the fixed-store path contract (ADVICE r9): the oracle process
  * recomputes store paths from the literal harness data dir, so every
  * spelling of that dir the Spark side might be handed — relative, with
  * `..`, or through a symlink whose LEAF NAME differs — must resolve to
  * the one path the oracle computed, while two genuinely different dirs
  * that merely share a basename must not collide. */
class StoreDirSpec extends AnyFunSuite {

  test("same dir under ../ spelling resolves to one store path") {
    val base = Files.createTempDirectory("graft-storedir").toString
    val sub = s"$base/data"
    Files.createDirectories(Paths.get(sub))
    val direct = StoreDir.fixedPath("t", sub)
    val dotted = StoreDir.fixedPath("t", s"$base/./x/../data")
    assert(direct === dotted)
  }

  test("symlink with a DIFFERENT leaf name resolves to the target's path") {
    val base = Files.createTempDirectory("graft-storedir").toString
    val target = Paths.get(s"$base/real-data")
    Files.createDirectories(target)
    val link = Paths.get(s"$base/alias")
    Files.createSymbolicLink(link, target)
    val viaTarget = StoreDir.fixedPath("t", target.toString)
    val viaLink = StoreDir.fixedPath("t", link.toString)
    // both the 8-hex hash AND the embedded basename must agree — the
    // basename comes from the canonical path, not the raw spelling
    assert(viaTarget === viaLink)
    assert(viaTarget.contains("real-data"))
  }

  test("two different dirs sharing a basename get distinct store paths") {
    val a = Files.createTempDirectory("graft-storedir-a")
    val b = Files.createTempDirectory("graft-storedir-b")
    Files.createDirectories(Paths.get(s"$a/sf0.01"))
    Files.createDirectories(Paths.get(s"$b/sf0.01"))
    val pa = StoreDir.fixedPath("t", s"$a/sf0.01")
    val pb = StoreDir.fixedPath("t", s"$b/sf0.01")
    assert(pa !== pb)
  }

  test("two spellings of one dir share one in-JVM build") {
    val base = Files.createTempDirectory("graft-storedir").toString
    val sub = s"$base/data"
    Files.createDirectories(Paths.get(sub))
    val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def touch(d: String): String =
      StoreDir.fixed(cache, StoreDir.fixedPath("tb", d)) { dir =>
        builds.incrementAndGet()
        Files.write(Paths.get(s"$dir/marker"), "x".getBytes)
      }
    val p1 = touch(sub)
    val p2 = touch(s"$base/./x/../data")
    assert(p1 === p2)
    assert(builds.get() === 1) // second spelling hit the shared cache entry
    assert(Files.exists(Paths.get(s"$p1/marker")))
  }

  test("the store root is java.io.tmpdir, not a hard-coded /tmp") {
    val root = Files.createTempDirectory("graft-storedir-root")
    val saved = System.getProperty("java.io.tmpdir")
    System.setProperty("java.io.tmpdir", root.toString)
    try assert(Paths.get(StoreDir.fixedPath("t", TestSpark.sfDir)).getParent === root)
    finally System.setProperty("java.io.tmpdir", saved)
  }
}
