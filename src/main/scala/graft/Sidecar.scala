package graft

/** Persisted sidecar/index stores: their key, their directory and
  * their one lifecycle.
  *
  * Every engine-built artifact that outlives one query run (IVF/PQ/SQ
  * stores, graph dumps, LSH bands, KLL sketch state, classifier
  * weights, txn tables, …) lives in [[dir]] =
  * `java.io.tmpdir/graft_<tag>_<key>`, where the tag `<name>_v<N>`
  * carries the store's layout version and is declared once as a `val`
  * that the builder, the oracle SQL and the specs all read. A
  * change to a store's writer, layout or parameters bumps its tag
  * version: the old directory is then simply never read again.
  *
  * Lifecycle ([[built]]): a store is done iff its directory holds the
  * [[Done]] marker, which is created only after the whole build
  * returned. A missing marker means the build never ran or was killed
  * part-way; the leftovers are deleted and the build runs again in
  * place, so a half-written store is never read. The build runs in
  * the final directory rather than a temp dir renamed in at the end,
  * because some stores record absolute paths of their own files
  * (a GraftTable clone's log names its source's files). Builds,
  * marker checks and [[drop]] all hold this object's one reentrant
  * monitor: one build per store per JVM, and a build may ensure
  * another store it reads.
  *
  * Key ([[key]]): through r12 the key was
  * `Integer.toHexString(sfDir.hashCode)` — a PATH hash, so a fixture
  * regenerated IN PLACE silently served stale sketch/weight/band
  * state to both engines (ADVICE r12: the oracle gate still "passes"
  * because both sides read the stale sidecar). The key now folds a
  * fingerprint of the fixture's actual files — (relative path,
  * length, mtime) of every data file, one driver-side directory
  * listing — so regenerating a fixture at the same path changes the
  * key and every dependent store rebuilds.
  *
  * mtime+length is the parquet-catalog staleness contract (the same
  * signal Spark's own FileIndex uses for cache invalidation): cheap,
  * and a regeneration that rewrites identical bytes bit-for-bit with
  * a preserved mtime is indistinguishable from no change — which is
  * exactly the case where stale ≡ fresh. */
object Sidecar {

  /** Completion marker, created last in a built store's directory. */
  private[graft] val Done = "_GRAFT_DONE"

  /** Store key for the fixture rooted at `d`: path hash ⊕ content
    * fingerprint, hex-encoded. Deterministic within a fixture
    * generation; changes whenever any data file is added, removed,
    * resized, or re-written. */
  def key(d: String): String = {
    val root = new java.io.File(d)
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.iterator.flatMap(walk)).getOrElse(Iterator.empty)
      else Iterator.single(f)
    var fp = 0L
    walk(root)
      .filter { f =>
        val n = f.getName
        !n.startsWith(".") && !n.startsWith("_") // skip markers/CRCs
      }
      .map(f => (f.getPath.stripPrefix(root.getPath), f.length, f.lastModified))
      .toArray.sortBy(_._1)
      .foreach { case (p, len, mt) =>
        fp = fp * 1000003L + p.hashCode
        fp = fp * 1000003L + len
        fp = fp * 1000003L + mt
      }
    java.lang.Long.toHexString((d.hashCode.toLong << 32) ^ fp)
  }

  /** Directory of the `tag` store derived from the fixture at `d`. */
  def dir(tag: String, d: String): String = dir(s"${tag}_${key(d)}")

  /** Directory of a `tag` store that does not depend on any fixture. */
  def dir(tag: String): String =
    new java.io.File(sys.props("java.io.tmpdir"), s"graft_$tag").toString

  /** `dir` once its store is complete: returned as is when marked
    * done, otherwise cleared, built in place by `build(dir)` and
    * marked done. A `build` that throws leaves no marker, so the next
    * call starts over. */
  def built(dir: String)(build: String => Unit): String = synchronized {
    val marker = new java.io.File(dir, Done)
    if (!marker.exists()) {
      drop(dir)
      new java.io.File(dir).mkdirs()
      build(dir)
      require(marker.createNewFile(), s"failed to mark $dir complete")
    }
    dir
  }

  /** Whether any store under the tmpdir's `graft_*` roots got a
    * completion marker at or after `sinceMs`: a [[Done]] marker, a
    * Spark `_SUCCESS` or a GraftTable `_txlog` (at most four levels
    * down). A build that only found its stores built writes none. */
  private[graft] def wroteStores(sinceMs: Long): Boolean = {
    def fresh(f: java.io.File, depth: Int): Boolean =
      if (Set(Done, "_SUCCESS", "_txlog")(f.getName)) f.lastModified >= sinceMs
      else if (!f.isDirectory || depth <= 0) false
      else Option(f.listFiles).getOrElse(Array.empty[java.io.File])
        .exists(fresh(_, depth - 1))
    Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles)
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .exists(fresh(_, 4))
  }

  /** Delete the store (or any file tree) at `dir`; the next [[built]]
    * rebuilds it. */
  def drop(dir: String): Unit = synchronized {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
  }
}
