package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

/** The train-once artifact registry. An artifact (IVF quantizer, BPE
  * merges, history bloom, LSH band index, PQ and IVF-PQ codebooks) is built
  * once per corpus generation and loaded by every later serve, so a query
  * never rebuilds it — at 100 TB it lives next to the data. One declaration
  * per artifact gives its name, version, extension and format; this object
  * owns everything else:
  *
  *   - the file `graft-<name>-v<version>-<md5(dir)>[-<params>].<ext>` under
  *     [[baseDir]] ([[Scratch]]'s sweep never touches that family, only a
  *     dead publisher's `.tmp-<pid>`);
  *   - one publish path for files and directories: build into a pid-tagged
  *     tmp beside the target, then ATOMIC_MOVE, so no reader sees a torn
  *     artifact. A failed build leaves no tmp behind; a failed move onto an
  *     existing target means a concurrent publisher won, so its artifact is
  *     loaded instead;
  *   - an in-memory memo keyed by the artifact's path, so changing the base
  *     dir mid-process serves (and publishes) under the new base;
  *   - [[clearMemory]], the fresh-driver test hook.
  *
  * Each declared artifact owns its memo: a build that serves another
  * artifact (IVF-PQ reads the IVF quantizer) would otherwise be a recursive
  * update of one shared `ConcurrentHashMap`.
  */
object Artifacts {

  /** Where artifacts live: the setter (CLI `--artifact-dir`), else env
    * `SPARK_GRAFT_ARTIFACT_DIR`, else the system temp dir — the single-box
    * stand-in for a shared store every driver generation can reach.
    */
  @volatile private[graft] var artifactBaseDirOverride: Option[String] = None
  private[graft] def baseDir: String =
    artifactBaseDirOverride
      .orElse(sys.env.get("SPARK_GRAFT_ARTIFACT_DIR"))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Deterministic corpus key for artifact names. */
  private[graft] def corpusKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(UTF_8)).map("%02x".format(_)).mkString

  /** An artifact's on-disk format, and the one local read/write of it. */
  final case class Codec[A](encode: A => Array[Byte], decode: Array[Byte] => A) {
    def write(path: String, a: A): Unit = Files.write(Paths.get(path), encode(a)): Unit
    def read(path: String): A = decode(Files.readAllBytes(Paths.get(path)))
  }

  object Codec {
    /** A UTF-8 text format. */
    def text[A](render: A => String, parse: String => A): Codec[A] =
      Codec(a => render(a).getBytes(UTF_8), b => parse(new String(b, UTF_8)))
  }

  private val declared = new CopyOnWriteArrayList[Artifact[_]]()

  /** One declared artifact. `version` is the build algorithm generation:
    * bump it on any change to the build (seeding, update step, tiebreaks,
    * rounding) so a stale artifact from an older build never serves.
    */
  sealed abstract class Artifact[A](name: String, version: Int, ext: String) {
    private val memo = new ConcurrentHashMap[String, A]()
    declared.add(this)

    def path(dir: String, params: String*): String =
      (s"$baseDir/graft-$name-v$version" +: corpusKey(dir) +: params)
        .mkString("-") + s".$ext"

    /** The artifact at `path`: from memory, else loaded, else built by
      * `build(tmp)` and published.
      */
    protected def serve(path: String)(load: String => A)(build: String => A): A =
      memo.computeIfAbsent(path, _ => {
        val target = Paths.get(path)
        if (Files.exists(target)) load(path)
        else {
          val tmp = Paths.get(s"$path.tmp-${ProcessHandle.current().pid()}")
          Files.createDirectories(target.getParent)
          try {
            val a = build(tmp.toString)
            try { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); a }
            catch { case _: FileSystemException if Files.exists(target) => load(path) }
          } finally Scratch.deleteRecursively(tmp.toFile)
        }
      })

    private[Artifacts] def clear(): Unit = memo.clear()
  }

  /** A one-file artifact in `codec`'s format. */
  final class FileArtifact[A](name: String, version: Int, ext: String, codec: Codec[A])
      extends Artifact[A](name, version, ext) {
    def apply(dir: String, params: String*)(build: => A): A =
      serve(path(dir, params: _*))(codec.read) { tmp =>
        val a = build
        codec.write(tmp, a)
        a
      }
  }

  /** A directory artifact (e.g. parquet) that `write` fills; serves the
    * published path.
    */
  final class DirArtifact(name: String, version: Int, ext: String)
      extends Artifact[String](name, version, ext) {
    def apply(dir: String, params: String*)(write: String => Unit): String = {
      val p = path(dir, params: _*)
      serve(p)(identity) { tmp => write(tmp); p }
    }
  }

  /** Test hook: forget every artifact held in memory (fresh-driver
    * simulation — the artifacts on disk must carry the state across).
    */
  private[graft] def clearMemory(): Unit = declared.forEach(_.clear())
}
