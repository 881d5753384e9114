package graft.util

import java.io.File
import java.nio.file.{Files, Path}

/** The one scratch-dir scheme. Everything a graft process stages,
  * checkpoints or spills for its own use lives under ONE per-process root,
  * `graft-scratch-<pid>`, inside [[base]]:
  *
  *   - [[base]] is tmpfs (`/dev/shm`) when writable — page-cache writeback
  *     of staged parquet stalls later timed runs at random — else
  *     `java.io.tmpdir`; decided once per process;
  *   - the root is created on first use, right after [[sweep]] has reclaimed
  *     what dead processes left behind in both candidate bases and in
  *     [[Artifacts.baseDir]], and a single shutdown hook deletes it;
  *   - [[dir]] hands out fresh subdirs of the root.
  *
  * Train-once artifacts (`graft-<name>-v<N>-…`, see [[Artifacts]]) are NOT
  * scratch: they are meant to outlive the process and the sweep never
  * touches them, only the `….tmp-<pid>` a dead publisher left behind.
  */
object Scratch {
  private[graft] lazy val base: File = {
    val shm = new File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm
    else new File(System.getProperty("java.io.tmpdir"))
  }

  private lazy val root: Path = {
    sweep(Seq(base, new File(System.getProperty("java.io.tmpdir")),
      new File(Artifacts.baseDir)).distinct, System.currentTimeMillis())
    val r = new File(base, s"graft-scratch-${ProcessHandle.current().pid()}")
    deleteRecursively(r) // left by a dead process whose pid was recycled to us
    Files.createDirectories(r.toPath)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r.toPath
  }

  /** A fresh, empty dir named `<kind>-<random>` under this process's root. */
  def dir(kind: String): Path = Files.createTempDirectory(root, s"$kind-")

  /** Best-effort delete; never follows a symlink out of the tree. */
  def deleteRecursively(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  // Name families this scheme (and the per-call-site schemes it replaced)
  // created. A pid tag is the 1-7 digit field right after the family
  // (Linux pids stay below 2^22); createTempDirectory's random suffix is a
  // 64-bit number, almost always 18-20 digits, so it is not mistaken for
  // one (a misread pid would look dead and sweep a live sibling's dir).
  private val Family = "(?:scratch|bench|test|stream-q|ckpt|compact|bucket|spark-local)"
  private val PidTagged = s"^graft-$Family-([0-9]{1,7})(?:-.*)?$$".r
  private val Untagged = s"^graft-$Family(?:-.*)?$$".r
  // an artifact's publish tmp (file or dir), and the `.crc` sidecar that
  // Hadoop's local FileSystem wrote beside it before artifacts were
  // published through java.nio
  private val ArtifactTmp = """^\.?graft-.+\.tmp-([0-9]{1,7})(?:\.crc)?$""".r
  private val IdleMs = 30L * 60 * 1000

  /** Delete everything in `bases` whose owner is gone: pid-tagged scratch
    * dirs and artifact publish tmps once that process has exited, untagged
    * scratch dirs (the shared `graft-spark-local` root of
    * `SPARK_LOCAL_DIRS`, legacy random-suffixed staging) once nothing below
    * them changed for 30 minutes.
    */
  private[graft] def sweep(bases: Seq[File], now: Long): Unit =
    bases.foreach { b =>
      Option(b.listFiles((f: File) => stale(f, now)))
        .getOrElse(Array.empty[File]).foreach(deleteRecursively)
    }

  private def stale(f: File, now: Long): Boolean = f.getName match {
    case ArtifactTmp(pid) => ProcessHandle.of(pid.toLong).isEmpty
    case PidTagged(pid) => f.isDirectory && ProcessHandle.of(pid.toLong).isEmpty
    case Untagged() => f.isDirectory && now - newestMtime(f) > IdleMs
    case _ => false
  }

  // Recursive: shuffle files land 3+ levels below the local-dir root, whose
  // own mtime only moves when a session creates its app subdir.
  private def newestMtime(f: File): Long =
    Option(f.listFiles()).getOrElse(Array.empty[File])
      .foldLeft(f.lastModified())((m, c) => m max newestMtime(c))
}
