package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Scratch

/** `Scratch` artifacts live for one JVM run: two JVMs that share a
  * `java.io.tmpdir` never read each other's artifacts, each leaves
  * nothing behind at exit, and within a run a failed build is retried
  * from an empty location. No Spark: the children run
  * [[ScratchSpec.main]] on the test classpath. */
class ScratchSpec extends AnyFunSuite {

  private def child(tmp: Path, args: String*): Process =
    new ProcessBuilder((Seq(
      Paths.get(sys.props("java.home"), "bin", "java").toString, "-Xmx64m",
      s"-Djava.io.tmpdir=$tmp", "-cp", sys.props("java.class.path"),
      "graft.ScratchSpec") ++ args): _*)
      .redirectErrorStream(true).start()

  private def finish(p: Process): String = {
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor(60, TimeUnit.SECONDS), s"child did not exit:\n$out")
    assert(p.exitValue() == 0, s"child failed:\n$out")
    out
  }

  test("two runs sharing a tmpdir each build once and leave no entry behind") {
    val tmp = Paths.get(Scratch.tempDir("graft_scratchspec_tmp"))
    val sync = Scratch.tempDir("graft_scratchspec_sync")
    // the first child stays alive until the second has made both its
    // calls, so the second sees every entry the first created
    val first = child(tmp, "-", s"$sync/first", s"$sync/second")
    val second = child(tmp, s"$sync/first", s"$sync/second", "-")
    for (out <- Seq(finish(second), finish(first)))
      assert(out.contains("builds=1"), s"expected exactly one build per run:\n$out")
    val s = Files.list(tmp)
    val left = try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close()
    assert(!left.exists(_.startsWith("graft_")), s"entries outlived their run: $left")
  }

  test("a build that throws after creating its directory is retried from an empty location") {
    var builds = 0
    // like `.write.parquet(dir)`, the build refuses an existing directory
    def build(dir: String): Unit = {
      builds += 1
      Files.writeString(Files.createDirectory(Paths.get(dir)).resolve("part"), "x")
      if (builds == 1) throw new IllegalStateException("build failed")
    }
    intercept[IllegalStateException](Scratch.cachedArtifact("graft_scratchspec_retry", "sf")(build))
    val dir = Scratch.cachedArtifact("graft_scratchspec_retry", "sf")(build)
    assert(builds == 2 && Files.exists(Paths.get(dir, "part")))
    assert(Scratch.cachedArtifact("graft_scratchspec_retry", "sf")(build) == dir)
    assert(builds == 2, "a built artifact was rebuilt within the run")
  }
}

object ScratchSpec {

  /** Child run: waits for the file `args(0)`, asks twice for one
    * artifact and once for a temp dir, prints its build count, creates
    * `args(1)`, then waits for `args(2)` before exiting ("-" skips a
    * wait). */
  def main(args: Array[String]): Unit = {
    val Array(before, done, after) = args
    def await(f: String): Unit = if (f != "-") {
      val deadline = System.currentTimeMillis + 30000
      while (!Files.exists(Paths.get(f)))
        if (System.currentTimeMillis > deadline) sys.error(s"timed out waiting for $f")
        else Thread.sleep(20)
    }
    await(before)
    var builds = 0
    for (_ <- 1 to 2) Scratch.cachedArtifact("graft_scratchspec", "sf") { dir =>
      builds += 1
      Files.createDirectory(Paths.get(dir)): Unit
    }
    Scratch.tempDir("graft_scratchspec_dir"): Unit
    println(s"builds=$builds")
    Files.createFile(Paths.get(done)): Unit
    await(after)
  }
}
