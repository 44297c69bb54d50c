package graft.storage

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** Where scratch lives and how a shared derivation is built once — the one
  * mechanism behind the dedup component index, the co-purchase edge table,
  * the LM score table, the registry's staged round-trip outputs, the
  * streaming replays' staged inputs and their checkpoints and work dirs.
  *
  * Scratch root: one directory per JVM, `target/qtmp/run-<pid>` under the
  * working directory, created on first use. Creating it sweeps every
  * sibling `run-<pid>` whose process is gone, so a run can never see
  * another run's artifacts: a fresh JVM always recomputes, and two
  * concurrent JVMs (a test suite next to a verify run) never overwrite
  * each other's files.
  *
  * Build-once guard: [[once]] rebuilds `dir` only when the input CONTENT
  * differs from the one its last build used — compared by
  * [[inputFingerprint]], a hash of the input's file listing with sizes and
  * mtimes — so a long-lived JVM that rewrites an input in place gets a
  * fresh derivation on its next touch. Concurrent
  * first touches (any session, any thread) block on a per-dir lock rather
  * than double-write, and `dir` is cleared before a build and after a
  * failed one, so a build that throws never leaves partial output for the
  * next reader.
  *
  * This is the single-process analog of a production pipeline's
  * materialized-table step (per ingest batch, the component map / edge
  * table / quality scores are written once and every downstream consumer
  * scans them — at 100 TB the difference between one corpus pass and one
  * per consumer).
  */
object Materialize {
  private val RunDir = """run-(\d+)""".r

  private[graft] lazy val root: File =
    runRoot(new File("target/qtmp").getAbsoluteFile, ProcessHandle.current().pid())

  /** Creates `base/run-<pid>` after deleting every sibling `run-<n>` whose
    * process is no longer alive. */
  private[graft] def runRoot(base: File, pid: Long): File = {
    Option(base.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      f.getName match {
        case RunDir(n) if n.toLong != pid &&
            !ProcessHandle.of(n.toLong).filter(_.isAlive).isPresent =>
          deleteRecursively(f)
        case _ =>
      }
    }
    val dir = new File(base, s"run-$pid")
    dir.mkdirs()
    dir
  }

  /** This JVM's scratch path for artifact `name` derived from the table
    * directory `inputDir`, sanitized into one path segment that never starts
    * with `_` or `.` (names Spark's file listing treats as hidden). */
  def scratch(name: String, inputDir: String): String =
    s"$root/$name/${inputDir.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^[_.]+", "")}"

  private val freshCounter = new AtomicLong(0)

  /** A new empty directory `<root>/<prefix>_<n>`, unique in this JVM (a
    * leftover of a dead run that had the same PID is cleared). */
  def freshDir(prefix: String): File = {
    val dir = new File(root, s"${prefix}_${freshCounter.incrementAndGet()}")
    deleteRecursively(dir)
    dir.mkdirs()
    dir
  }

  /** dir -> fingerprint of the input its current content was built from */
  private val builtFrom = new ConcurrentHashMap[String, String]()
  private val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Runs `build` (which writes `dir`) unless this JVM's last build of `dir`
    * was from the current content of `input`. `dir` must encode every
    * parameter the derivation depends on. */
  def once(dir: String, input: DataFrame)(build: => Unit): Unit = {
    val fp = inputFingerprint(input)
    if (builtFrom.get(dir) != fp) locks.computeIfAbsent(dir, _ => new AnyRef).synchronized {
      if (builtFrom.get(dir) != fp) {
        val out = new File(dir)
        builtFrom.remove(dir)
        deleteRecursively(out)
        try build
        catch { case e: Throwable => deleteRecursively(out); throw e }
        builtFrom.put(dir, fp)
      }
    }
  }

  private[graft] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Cheap content fingerprint of a DataFrame's file-source inputs: a hash
    * over the sorted (uri, size, mtime) triples. Any rewrite changes it —
    * Spark part-file names are unique per write, so even a same-length
    * rewrite flips the listing. Non-file-backed inputs (in-memory test
    * frames) yield a constant, degrading to the plain dir key. The
    * fingerprint is a file-metadata listing, never a data read. */
  def inputFingerprint(df: DataFrame): String = {
    val entries = df.inputFiles.sorted.map { u =>
      val f = try {
        val uri = java.net.URI.create(u)
        new File(if (uri.getPath == null) u else uri.getPath)
      } catch { case _: IllegalArgumentException => new File(u) }
      s"$u:${f.length}:${f.lastModified}"
    }
    val h = entries.foldLeft(1125899906842597L)((acc, s) => acc * 31 + s.hashCode)
    java.lang.Long.toHexString(h)
  }
}
