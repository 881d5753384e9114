package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

/** The scratch-dir scheme: the dead-owner sweep, and the one module that
  * decides where scratch lives.
  */
class ScratchSpec extends AnyFunSuite {
  private val now = System.currentTimeMillis()
  private val ownPid = ProcessHandle.current().pid()
  // a pid with no live process (scanning down from Linux's pid_max)
  private lazy val deadPid =
    Iterator.iterate(4194303L)(_ - 1).find(p => ProcessHandle.of(p).isEmpty).get

  /** Fresh sweep base holding one dir per name, each with a file inside. */
  private def base(names: String*): File = {
    val b = Scratch.dir("sweep").toFile
    names.foreach { n =>
      val d = new File(b, n)
      assert(d.mkdirs())
      assert(new File(d, "part-0").createNewFile())
    }
    b
  }
  private def left(b: File): Set[String] = b.list().toSet
  private def age(b: File, name: String, ms: Long): Unit = {
    def walk(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(walk))
      assert(f.setLastModified(now - ms))
    }
    walk(new File(b, name))
  }

  test("sweep deletes a dead pid's dir and keeps the live process's own") {
    val b = base(s"graft-scratch-$deadPid", s"graft-scratch-$ownPid",
      s"graft-bench-$deadPid", s"graft-test-$ownPid-8512930475619285532")
    Scratch.sweep(Seq(b), now)
    assert(left(b) == Set(s"graft-scratch-$ownPid", s"graft-test-$ownPid-8512930475619285532"))
  }

  test("sweep keeps fresh untagged dirs and graft-spark-local; reclaims them once idle 30 min") {
    // a random createTempDirectory suffix is no pid: these go by age only
    val untagged = "graft-stream-q-13278958905169215697"
    val b = base(untagged, "graft-spark-local", "graft-ckpt-5149317927753871744")
    Scratch.sweep(Seq(b), now)
    assert(left(b) == Set(untagged, "graft-spark-local", "graft-ckpt-5149317927753871744"))
    // one fresh shuffle file deep below keeps the whole local-dir root alive
    val deep = new File(b, "graft-spark-local/spark-1/blockmgr-2/0c")
    val shuffle = new File(deep, "shuffle_0_0_0.data")
    assert(deep.mkdirs() && shuffle.createNewFile())
    age(b, untagged, 31L * 60 * 1000)
    age(b, "graft-spark-local", 31L * 60 * 1000)
    assert(shuffle.setLastModified(now))
    Scratch.sweep(Seq(b), now)
    assert(left(b) == Set("graft-spark-local", "graft-ckpt-5149317927753871744"))
    age(b, "graft-spark-local", 31L * 60 * 1000)
    Scratch.sweep(Seq(b), now)
    assert(left(b) == Set("graft-ckpt-5149317927753871744"))
  }

  test("sweep reclaims legacy pid-prefixed names from dead owners, never artifacts") {
    val legacy = Seq("stream-q", "ckpt", "compact", "bucket")
      .map(k => s"graft-$k-$deadPid-7813554486891876911")
    val live = s"graft-stream-q-$ownPid-1289993646167076510"
    // train-once artifacts outlive processes by design, however old
    val artifact = "graft-bands-v1-a1e8d12c19f219451c9c328c515afd62.idx"
    val other = "graft-notes"
    // publish tmps (files or dirs) and the hidden Hadoop `.crc` sidecars:
    // reclaimed once their pid is gone, a live publisher's tmp kept
    val deadTmps = Seq(s"$artifact.tmp-$deadPid",
      s"graft-bloom-v1-a1e8d12c19f219451c9c328c515afd62.bloom.tmp-$deadPid",
      s".graft-ivf-v1-a1e8d12c19f219451c9c328c515afd62-c16.centroids.tmp-$deadPid.crc")
    val liveTmp = s"graft-pq-v1-a1e8d12c19f219451c9c328c515afd62-m8-k16.books.tmp-$ownPid"
    val fileArtifact = "graft-bloom-v1-a1e8d12c19f219451c9c328c515afd62.bloom"
    val b = base(legacy ++ Seq(live, artifact, other, deadTmps.head): _*)
    (deadTmps.tail :+ liveTmp :+ fileArtifact).foreach(n => assert(new File(b, n).createNewFile()))
    age(b, artifact, 24L * 3600 * 1000)
    age(b, other, 24L * 3600 * 1000)
    age(b, fileArtifact, 24L * 3600 * 1000)
    Scratch.sweep(Seq(b), now)
    assert(left(b) == Set(live, artifact, other, liveTmp, fileArtifact))
  }

  test("dir() hands out fresh dirs under this process's pid-tagged root") {
    val d = Scratch.dir("probe").toFile
    assert(d.isDirectory && d.list().isEmpty)
    assert(d.getParentFile.getName == s"graft-scratch-$ownPid")
    assert(d.getParentFile.getParentFile == Scratch.base)
    assert(Scratch.dir("probe") != d.toPath)
  }

  test("only Scratch.scala names /dev/shm in main code") {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    val hits = walk(main).filter(_.getName.endsWith(".scala"))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("/dev/shm"))
      .map(_.getName)
    assert(hits == Seq("Scratch.scala"), s"the scratch base is decided in Scratch only: $hits")
  }
}
