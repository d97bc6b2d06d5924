package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}

/** Tiny metadata-file protocol shared by the generational indexes (the
  * durable admit index in `streaming/AdmitIndex` and every
  * [[GenStore]] store — the minhash sigsPath index, zone-map manifests,
  * graph memos and ANN models): pointer/fingerprint files and data-file
  * listings. One implementation (round-12 review: the two copies
  * had already started to diverge) so a protocol fix lands everywhere.
  *
  * `write` publishes via hidden-temp + rename. Where the filesystem
  * exposes a FileContext (HDFS, local), the rename is
  * rename-with-OVERWRITE — an atomic replace with NO missing-file
  * window (ADVICE r12, closing the delete-to-rename gap two concurrent
  * publishers could interleave). Schemes without an AbstractFileSystem
  * fall back to delete-then-rename, where a reader can observe the file
  * MISSING for an instant but never a torn prefix — the CONSUMER
  * CONTRACT for that fallback (and for any crash window) is therefore:
  * treat absence as "first start / fall back to the newest committed
  * generation / adoption scan". Every current consumer does; a future
  * consumer that cannot tolerate absence must not publish through this
  * path on such a scheme. (Rename atomicity: HDFS/local yes; object
  * stores want a copy-commit layer — the Checkpoints.scala caveat.) */
object MetaFiles {

  def write(fs: FileSystem, f: Path, v: String): Unit = {
    // sweep temp debris from CRASHED publishes of this same file (>10
    // minutes old by modtime — a live concurrent publish is seconds
    // old, and the age guard keeps this from racing one)
    // contains, not startsWith (ADVICE r16): a checksum scheme names the
    // temp's OWN sidecar "..<name>.tmp-<nonce>.crc" — the extra leading
    // dot escaped the old prefix match and the sidecar could leak forever
    try fs.listStatus(f.getParent).foreach { st =>
      if (st.isFile && st.getPath.getName.contains("." + f.getName + ".tmp-")
          && st.getModificationTime < System.currentTimeMillis() - 600000L)
        fs.delete(st.getPath, false)
    } catch { case _: java.io.IOException => () }
    def mkTmp(): Path = {
      val t = new Path(f.getParent,
        "." + f.getName + ".tmp-" + java.lang.Long.toHexString(System.nanoTime()))
      val out = fs.create(t, true)
      try out.write(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      t
    }
    var tmp = mkTmp()
    // atomic replace (no missing-file window) where the scheme supports
    // FileContext — see the object scaladoc for the fallback contract.
    // RETRIED: even rename-with-OVERWRITE is delete-then-rename INSIDE
    // the filesystem layer on local/checksum schemes, so two concurrent
    // publishers of the SAME file can interleave and one sees a
    // transient FileAlreadyExistsException / rename refusal (round 16 —
    // the GenStore two-writer stress spec caught it on its first run).
    // Publish semantics are last-writer-wins between concurrent values,
    // so the loser simply re-attempts; give up loudly only after the
    // retries exhaust (a persistent failure is a real fault, not a race).
    val fc =
      try Some(org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf))
      catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }
    var attempt = 0
    var published = false
    var last: java.io.IOException = null
    while (!published && attempt < 10) {
      attempt += 1
      try {
        fc match {
          case Some(c) =>
            c.rename(tmp, f, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          case None =>
            fs.delete(f, false) // HDFS rename refuses an existing destination
            if (!fs.rename(tmp, f))
              throw new java.io.IOException(s"rename refused: $tmp -> $f")
        }
        published = true
      } catch {
        case e: java.io.IOException =>
          last = e
          // the multi-step rename can THROW after consuming the temp
          // (checksum schemes move the data file, then fail on the crc
          // leg when a concurrent publisher races the destination — the
          // stress spec observed exactly this). The temp file has
          // exactly one consumer — our own rename — so temp-gone means
          // A value landed at f (ours, or a concurrent winner's — the
          // last-writer-wins semantic makes both success). But VERIFY it
          // (ADVICE r16): a crc-leg failure can leave the destination
          // with a STALE checksum sidecar, where every read fails
          // verification and degrades to None while this writer believed
          // the pointer published. Readable → success; unreadable →
          // clear the wreck (delete drops the sidecar too) and retry
          // through a fresh temp.
          if (!fs.exists(tmp)) {
            if (read(fs, f).isDefined) published = true
            else {
              try fs.delete(f, false)
              catch { case _: java.io.IOException => () }
              tmp = mkTmp()
            }
          }
          // randomized backoff so two publishers in lockstep don't lose
          // the same interleaving on every retry (the stress spec saw a
          // 5-loss streak with immediate retries); the jitter source is
          // the attempt-unique tmp nonce, not wall-clock randomness
          // floorMod: hashCode can be Int.MinValue (whose .abs is still
          // negative) — a raw % could hand Thread.sleep a negative
          else Thread.sleep(
            1L + java.lang.Math.floorMod(tmp.getName.hashCode + attempt * 7, 10))
      }
    }
    if (!published) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"metadata publish failed after $attempt attempts: $tmp -> $f " +
          s"(last: $last)", last)
    }
  }

  def read(fs: FileSystem, f: Path): Option[String] =
    if (!fs.exists(f)) None
    // the open is inside the try: a concurrent publish's delete-then-rename
    // can remove `f` between the exists check and the open
    else try {
      val in = fs.open(f)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim).filter(_.nonEmpty)
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Visible DATA files directly inside `dir` (never a directory read:
    * callers must not partition-discover subdirectories, and commit
    * markers / hidden temps are protocol files, not data). */
  def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
}
