package graft.core

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** The ingest-once store for derived on-disk fixtures (the reference's
  * file-existence stage memoization, main.py:5375–5405, keyed by stage
  * name + content). Every fixture a query writes at construction
  * lives at `${java.io.tmpdir}/<name>_<h>`, where `h` is the first 32
  * hex digits of the SHA-256 of `key` plus the [[Digest.fileToken]] of
  * each source. A changed source or key gets a new directory, so a
  * published one is never rebuilt or deleted under a reader; a hit is
  * one `exists()` plus the source tokens and runs no Spark job.
  *
  * `build` fills a fresh staging directory, which is then renamed into
  * place atomically. Within a JVM one caller per fixture builds and
  * the others wait for it. If the rename finds the target already
  * there, another process won: fixtures are pure functions of their
  * key, so its copy is used and the staging copy is deleted.
  */
object Fixtures {
  private val locks = new java.util.concurrent.ConcurrentHashMap[File, AnyRef]()

  /** Where fixture (`name`, `key`, `sources`) lives, built or not. */
  def path(name: String, key: Seq[String], sources: Seq[File]): File =
    new File(sys.props("java.io.tmpdir"), name + "_" +
      Digest.sha256Hex((key ++ sources.map(Digest.fileToken)).mkString("|")).take(32))

  /** The published fixture directory, built by `build` if absent. */
  def dir(name: String, key: Seq[String], sources: Seq[File])
         (build: File => Unit): File = {
    val target = path(name, key, sources)
    if (!target.exists()) locks.computeIfAbsent(target, _ => new AnyRef).synchronized {
      if (!target.exists()) {
        val stage = Files.createTempDirectory(target.getParentFile.toPath, s".${name}_build").toFile
        try {
          build(stage)
          try Files.move(stage.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException if target.exists() => () }
        } finally org.apache.commons.io.FileUtils.deleteQuietly(stage)
      }
    }
    target
  }
}
