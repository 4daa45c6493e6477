package graft.operators

/** Cross-store PIPELINE MANIFEST: atomic, versioned pins of many
  * generational stores at once — the missing coordination layer above
  * the per-store `_CURRENT` pointers.
  *
  * The problem: a pipeline query (the q146 hybrid retrieval) reads TWO
  * stores — the retrieval index and the vector store — each with its
  * own generation pointer that a compaction ([[InvertedIndex
  * .compactStore]]) or refit ([[VectorStore.refit]]) moves
  * independently. A query that resolves each store's pointer separately
  * can observe index gen N with vector gen M+1 — individually
  * consistent, jointly a state no writer ever published (the classic
  * multi-object snapshot problem). The manifest closes it: one version
  * = one immutable `name -> generation` pin set, written tmp +
  * ATOMIC_MOVE and advanced by a CAS'd pointer exactly like every store
  * in the family — so a reader that resolves EVERY store through one
  * manifest version gets a jointly-published snapshot, immune to any
  * number of concurrent per-store publishes (generation directories are
  * immutable once published; that per-store contract is what makes the
  * cross-store pin sufficient).
  *
  * Layout under one root:
  * {{{
  *   root/_CURRENT      # current manifest version (text)
  *   root/v<N>/PINS     # sorted `name=generation` lines
  * }}}
  *
  * The pointer, the version listing and the retention are
  * [[GenStore]]'s versioned-root steps with the `v` prefix: old versions
  * tombstone-delete ([[GenStore.vacuumVersions]]), and resolving a
  * vacuumed version fails loudly, never silently re-resolves to
  * something newer. The pattern
  * is ordinary snapshot-isolation catalog practice (Iceberg/Delta-style
  * root pointers over immutable snapshots), re-expressed over this
  * repo's generational stores; gated by q152.
  */
object Manifest {

  private def versionDir(root: String, v: Long) =
    java.nio.file.Paths.get(root, s"v$v")

  private def writePins(root: String, v: Long,
      pins: Map[String, Long]): Unit = {
    require(pins.nonEmpty, "a manifest version must pin at least one store")
    pins.keys.foreach(n => require(
      n.nonEmpty && !n.exists(c => c == '=' || c == '\n' || c == '\r'),
      s"store name '$n' must be non-empty and free of '=' and newlines"))
    GenStore.atomicWrite(versionDir(root, v).resolve("PINS"),
      pins.toSeq.sortBy(_._1).map { case (n, g) => s"$n=$g" }.mkString("\n"))
  }

  /** Create the manifest at version 1 with the given pins. Idempotent
    * (overwrite + pointer rewrite).
    */
  def init(root: String, pins: Map[String, Long]): Unit = {
    writePins(root, 1L, pins)
    GenStore.publishVersion(root, 1L)
  }

  /** The version readers currently resolve. */
  def currentVersion(root: String): Long = GenStore.currentGen(root)

  /** Publish a new pin set as version `expectedVersion + 1` — CAS on
    * the version the writer planned against (a racing publish that
    * already MOVED the pointer no-ops and returns the published
    * version). The pin file lands complete before the pointer moves,
    * so readers see the old snapshot or the new one, never a torn
    * manifest.
    *
    * The version-DIRECTORY creation is the mutual-exclusion lock (an
    * atomic filesystem createDirectory), closing the read-then-write
    * window of a pointer-only CAS: two concurrent publishers planning
    * against the same version can no longer both "succeed" at v+1 with
    * different pins — exactly one wins the directory; the loser either
    * observes the winner's finished publish (and returns it, the CAS
    * no-op), or finds its OWN crashed attempt (same pins already on
    * disk — completing it is idempotent, so the retry converges), or
    * fails LOUDLY. A loud failure also names the one manual repair an
    * orphaned attempt needs (remove the unpublished `v<N>` directory
    * and retry) — an unpublished version directory is invisible to
    * readers, so the repair is always safe.
    */
  def publish(root: String, expectedVersion: Long,
      pins: Map[String, Long]): Long = {
    val cur = currentVersion(root)
    if (cur != expectedVersion) return cur
    val dir = versionDir(root, cur + 1)
    try java.nio.file.Files.createDirectory(dir)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val now = currentVersion(root)
        if (now != cur) return now // the racing winner finished first
        // pointer unmoved: a crashed attempt (ours — completing it is
        // the documented retry) or a DIFFERENT publisher's in-flight
        // work (loud — the pins disagree, or aren't even written yet)
        val f = dir.resolve("PINS")
        val samePins =
          java.nio.file.Files.exists(f) && Manifest.pins(root, cur + 1) == pins
        if (!samePins) throw new IllegalStateException(
          s"manifest publish of v${cur + 1} at $root lost the directory " +
            "lock: another publish is in flight, or a crashed publish left " +
            s"an unpublished $dir with different pins — readers cannot see " +
            "it; remove it and retry")
    }
    writePins(root, cur + 1, pins)
    GenStore.publishVersion(root, cur + 1)
    cur + 1
  }

  /** The pin set of one manifest version. A vacuumed (or never
    * published) version fails LOUDLY — a reader holding a stale version
    * must never be silently re-pointed at different data.
    */
  def pins(root: String, version: Long): Map[String, Long] = {
    val f = versionDir(root, version).resolve("PINS")
    require(java.nio.file.Files.exists(f),
      s"manifest version $version of $root does not exist " +
        "(vacuumed or never published) — re-resolve from the current version")
    GenStore.readMarker(f).map { case (n, g) => n -> g.toLong }
  }

  /** The current version's pins, in one resolve. */
  def pinsCurrent(root: String): Map[String, Long] =
    pins(root, currentVersion(root))

  /** One store's pinned generation at one version. Unknown store names
    * fail loudly.
    */
  def resolve(root: String, version: Long, store: String): Long =
    pins(root, version).getOrElse(store, sys.error(
      s"manifest v$version of $root pins no store named '$store'"))

  /** Published versions still on disk, ascending (tombstones and
    * unpublished work excluded).
    */
  def listVersions(root: String): Seq[Long] = GenStore.listVersions(root, "v")

  /** Retention: drop every published version older than the newest
    * `keepLast` (tombstone-renamed before deletion — the family's
    * crash/race discipline). Note this vacuums MANIFEST versions only;
    * the pinned store generations have their own vacuums, and a sound
    * retention policy drops a store generation only when no retained
    * manifest version still pins it ([[retainedPins]] is that audit).
    */
  def vacuum(root: String, keepLast: Int): Seq[Long] =
    GenStore.vacuumVersions(root, "v", keepLast)

  /** Every (store, generation) still pinned by ANY retained manifest
    * version — the reference set a store-level vacuum must not drop.
    */
  def retainedPins(root: String): Map[String, Set[Long]] =
    listVersions(root).flatMap(v => pins(root, v).toSeq)
      .groupBy(_._1).map { case (n, gs) => n -> gs.map(_._2).toSet }

  /** Vacuum one pinned store's generations WITHOUT ever dropping a
    * generation a retained manifest version still pins —
    * [[retainedPins]] enforced, not just auditable. Works on any store
    * with the family layout (`_CURRENT` + `gen=N` directories:
    * [[GenStore]] owners and [[VectorStore]] alike). The safe order for
    * full retirement is therefore: manifest [[vacuum]] first (drop the
    * versions), then per-store [[vacuumStore]] (their pins are no
    * longer retained). Returns the dropped generations.
    */
  def vacuumStore(manifestRoot: String, store: String,
      storeRoot: String, keepLast: Int): Seq[Long] =
    GenStore.vacuumExcept(storeRoot, keepLast,
      retainedPins(manifestRoot).getOrElse(store, Set.empty))
}
