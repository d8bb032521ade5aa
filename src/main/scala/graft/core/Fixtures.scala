package graft.core

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.commons.io.FileUtils

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
  *
  * Superseded fixtures are evicted at publish time: every call touches
  * its fixture directory's modification time, the marker of use, and a
  * publish deletes each same-`name` sibling whose marker is older than
  * [[maxIdleMs]]. A sibling this JVM has served is never deleted, since
  * a reader here may still be listing it; a reader in another process
  * touched its fixture when it asked for it.
  */
object Fixtures {
  /** A same-name fixture unused for longer than this (a day) is evicted
    * when another of that name is published. */
  val maxIdleMs: Long = 24L * 60 * 60 * 1000

  private val locks = new java.util.concurrent.ConcurrentHashMap[File, AnyRef]()
  private val served = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()

  /** Where fixture (`name`, `key`, `sources`) lives, built or not. */
  def path(name: String, key: Seq[String], sources: Seq[File]): File =
    new File(sys.props("java.io.tmpdir"), name + "_" +
      Digest.sha256Hex((key ++ sources.map(Digest.fileToken)).mkString("|")).take(32))

  /** The published fixture directory, built by `build` if absent. */
  def dir(name: String, key: Seq[String], sources: Seq[File])
         (build: File => Unit): File = {
    val target = path(name, key, sources)
    served.add(target)
    if (!target.exists()) locks.computeIfAbsent(target, _ => new AnyRef).synchronized {
      if (!target.exists()) {
        val stage = Files.createTempDirectory(target.getParentFile.toPath, s".${name}_build").toFile
        try {
          build(stage)
          try Files.move(stage.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException if target.exists() => () }
        } finally FileUtils.deleteQuietly(stage)
        evict(name, target)
      }
    }
    target.setLastModified(System.currentTimeMillis())
    target
  }

  /** Deletes the same-`name` siblings of `target` idle for longer than
    * [[maxIdleMs]] that this JVM never served. */
  private def evict(name: String, target: File): Unit = {
    val sibling = (java.util.regex.Pattern.quote(name) + "_[0-9a-f]{32}").r
    val cutoff = System.currentTimeMillis() - maxIdleMs
    Option(target.getParentFile.listFiles()).toSeq.flatten
      .filter(f => sibling.matches(f.getName) && f.lastModified() < cutoff && !served.contains(f))
      .foreach(f => FileUtils.deleteQuietly(f): Unit)
  }
}
