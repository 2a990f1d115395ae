package graft.sources

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import scala.util.hashing.MurmurHash3

/** The engine's one module for data versions and derived artifacts: the
  * canonical spelling of a path, the one hash, the data-version
  * fingerprint every staleness guard compares (the index routes of
  * `plans.Routes`), and the build-once cache every
  * derived artifact goes through (star-tree rollups, sorted and z-ordered
  * copies, index postings, codebooks, hybrid-store splits). */
object Fingerprint {

  /** Canonical spelling of a path as seen in HadoopFsRelation rootPaths
    * (scheme-stripped, absolute, normalized), so registration, plan
    * matching and cache keys agree whatever spelling a caller used
    * (`sf0.1`, `sf0.1/`, `./sf0.1`, `file:/…/sf0.1`). */
  def canon(p: String): String = {
    val noScheme = p.stripPrefix("file:")
    try Paths.get(noScheme).toAbsolutePath.normalize.toString
    catch { case _: Throwable => noScheme }
  }

  /** 64-bit hex digest (two 32-bit murmur seeds), so an accidental
    * collision between distinct inputs cannot serve a stale artifact. */
  def hash64(s: String): String =
    f"${MurmurHash3.stringHash(s, 0x9E3779B9) & 0xffffffffL}%08x" +
      f"${MurmurHash3.stringHash(s, 0x85EBCA6B) & 0xffffffffL}%08x"

  /** Data version of a file, or of a directory's immediate files:
    * name:length:mtime of each, hashed. */
  def of(path: String): String = {
    val f = new java.io.File(path)
    val sig =
      if (f.isFile) s"${f.getName}:${f.length}:${f.lastModified}"
      else Option(f.listFiles)
        .map(_.filter(_.isFile).sortBy(_.getName)
          .map(c => s"${c.getName}:${c.length}:${c.lastModified}").mkString("|"))
        .getOrElse("absent")
    hash64(sig)
  }

  /** Build-once cache for a layout derived from `src` — Pinot's
    * segment-build-time cost model: the artifact is built once and every
    * later call reads it. Returns `java.io.tmpdir/graft_<tag>_<key>`.
    *
    * The key hashes every input of the build: `tag` (the builder and its
    * on-disk format — bump its version suffix when the format or build
    * algorithm changes), the canonical `src` path, every build parameter
    * in `params`, and the data version of `src`. A change to any of them
    * names a different artifact.
    *
    * `build` writes into a private staging dir that is then renamed to the
    * final name in one atomic step, so the published dir's existence is
    * the commit point: a reader never sees half an artifact. A `build`
    * that throws publishes nothing. Two concurrent builders of one key
    * each build, the first rename wins, and the loser returns the winner's
    * dir. Builders must store only relative paths inside the artifact. */
  def buildOnce(tag: String, src: String, params: Any*)(build: String => Unit): String = {
    val render: Any => String = {
      case xs: Iterable[_] => xs.map(String.valueOf).mkString("[", ",", "]")
      case x => String.valueOf(x)
    }
    val key = hash64((Seq(tag, canon(src)) ++ params.map(render) :+ of(src)).mkString("|"))
    val root = Paths.get(System.getProperty("java.io.tmpdir"))
    val out = root.resolve(s"graft_${tag}_$key")
    if (!Files.isDirectory(out)) {
      val staging = root.resolve(s"${out.getFileName}.staging-${java.util.UUID.randomUUID}")
      try {
        build(staging.toString)
        Files.createDirectories(staging)
        try Files.move(staging, out, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: FileSystemException if Files.isDirectory(out) => } // another builder won
      } finally deleteTree(staging)
    }
    out.toString
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally all.close()
    }
}
