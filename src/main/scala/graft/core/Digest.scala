package graft.core

/** Full-width content digests for fixture/cache tokens (r9 advice).
  *
  * The derived-fixture store ([[Fixtures]]), the schema memo
  * ([[Tables.schemaOf]]) and the simGraph cache key on a listing of
  * `name:length:mtime` entries of their SOURCE files. A 32-bit
  * `String.hashCode` of that listing collides silently — and a
  * collision serves a STALE checkpointed graph or arrival batch, the
  * exact staleness class the r8 sweep fixed twice. SHA-256 makes an accidental collision impossible in
  * practice; the hex form stays filesystem-name-safe.
  */
object Digest {
  def sha256Hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Listing token of every regular file under `f` (recursive,
    * name-sorted): content identity for cache keys. */
  def fileToken(f: java.io.File): String = {
    require(f.exists(), s"digest source missing: $f")
    def walk(x: java.io.File): Seq[java.io.File] =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(x)
    sha256Hex(walk(f)
      .map(x => s"${x.getName}:${x.length}:${x.lastModified}").mkString("|"))
  }
}
