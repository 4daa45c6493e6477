package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, max}

import graft.Tables

/** The generational-store protocol of the admission-store family —
  * [[KeySetStore]], [[QuantileStore]], [[SketchStore]], [[HeavyHitters]],
  * [[InvertedIndex]] and [[VectorStore]] all run it, and each supplies
  * only how it writes a fragment, how it folds fragments, and how it
  * reads. The protocol entry points:
  *  - [[admit]]: the fenced admission every `admit*`/`retract*`/
  *    `admitDelete*` front runs (quiesce pre-check, sealed-id or
  *    delete-id check, write, post-write quiesce and pointer re-checks);
  *  - [[publish]]: a compaction, expiry or rebuild — CAS on the
  *    generation, list, fold, sweep stragglers, seal, move the pointer,
  *    sweep again;
  *  - [[mergeStores]] / [[mergeFlatStoresHooked]]: the federation merge;
  *  - the policy: [[compactionDue]] over one generation's listing and
  *    footers, with the defaults [[MaxFragments]] and
  *    [[MaxPendingFraction]].
  *
  * Each store object extends one family trait, [[PendingDeleteStore]]
  * (stores with a `deletes/` table) or [[MergeableStore]] (delete-free
  * flat stores), both a [[FragmentStore]]: it states its [[Layout]] and
  * its compaction body, and the trait supplies init, the pointer and
  * seal reads, `fragmentCount`, `needsCompaction`, `compactIfNeeded`,
  * `maintenanceStatus` and the opening of pending deletes.
  *
  * Layout under one root:
  * {{{
  *   root/_CURRENT            # current generation number (text)
  *   root/gen=G/...           # one generation's store (layout is the
  *                            #   owner's; fragments are batch_id=N)
  *   root/gen=G/deletes/...   # pending delete fragments, if any
  *   root/gen=G/_COMPACTED    # max batch id sealed by the compaction
  *                            #   that produced this generation
  * }}}
  *
  * Pointer discipline: [[atomicWrite]] — readers see the old generation
  * or the new one, never a torn pointer. A generation directory above
  * the pointer is unpublished work (crashed or in-flight compaction)
  * that no reader may observe.
  *
  * The same VERSIONED-ROOT steps serve every pointer-anchored root in
  * graft — the stores above, the CDC snapshot store and the component
  * labels ([[graft.streaming.EventStreams]]: `v<N>` directories) and the
  * [[Manifest]] (`v<N>/PINS`): one `_CURRENT` pointer ([[currentGen]],
  * [[writePointer]], [[hasPointer]]) over numbered directories named
  * `gen=N` or `v<N>` ([[listVersions]]), keep-last retention that
  * renames each dropped directory to a `.deleted` tombstone before
  * deleting it ([[vacuumVersions]], [[tombstoneDelete]],
  * [[sweepTombstones]]), and `key=value` marker files ([[readMarker]]).
  * The directory prefix is the only difference between the roots.
  */
object GenStore {

  private def pointerPath(root: String) =
    java.nio.file.Paths.get(root, "_CURRENT")

  /** Replace the small file at `path` with `text` atomically: write a
    * tmp file beside it, then rename it over the target. Readers see
    * the old content or the new, never a torn file, and a crash leaves
    * the old one.
    */
  def atomicWrite(path: java.nio.file.Path, text: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    java.nio.file.Files.write(tmp, text.getBytes)
    java.nio.file.Files.move(tmp, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Move a versioned root's `_CURRENT` pointer to `gen`. */
  def writePointer(root: String, gen: Long): Unit =
    atomicWrite(pointerPath(root), gen.toString)

  /** PUBLISH version `v` of a versioned root whose content is already on
    * disk: when `what` names the write, re-check the quiesce mark first
    * ([[requireStillNotQuiesced]] — a publish completing inside a
    * federation merge's cut window throws before the pointer moves),
    * then move the pointer.
    */
  private[graft] def publishVersion(root: String, v: Long,
      what: String = ""): Unit = {
    if (what.nonEmpty) requireStillNotQuiesced(root, what)
    writePointer(root, v)
  }

  /** True once a versioned root has published a pointer. */
  private[graft] def hasPointer(root: String): Boolean =
    java.nio.file.Files.exists(pointerPath(root))

  /** Create the store (generation 1, empty). Idempotent. */
  def init(root: String): Unit = writePointer(root, 1L)

  /** Cold-start init: create generation 1 only if no pointer exists —
    * the restart-safe form (a plain [[init]] would resurrect a
    * compacted-away generation for readers).
    */
  def initIfAbsent(root: String): Unit =
    if (!hasPointer(root)) init(root)

  /** The generation (or version) readers of a versioned root currently
    * see.
    */
  def currentGen(root: String): Long =
    new String(java.nio.file.Files.readAllBytes(pointerPath(root))).trim.toLong

  /** The `key=value` lines of a small marker file (a CDC delta's
    * `_DELTA`, a sync watermark, a manifest's `PINS`), split at the first
    * `=`; lines without one are skipped.
    */
  private[graft] def readMarker(path: java.nio.file.Path): Map[String, String] =
    new String(java.nio.file.Files.readAllBytes(path))
      .linesIterator.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }
      .toMap

  /** One generation's directory. */
  def genDir(root: String, gen: Long): String = s"$root/gen=$gen"

  /** Batch ids of the fragments under `dir`, ascending. */
  def listBatchIds(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted
  }

  /** The compacted high-water mark of a generation: the max source
    * batch id its producing compaction sealed, or -1 for a
    * never-compacted generation (every admitted id is above it).
    * Batch ids at or below the seal are INSIDE the compacted fragment
    * — replaying them must be refused (the LSM rule: merged segments
    * seal their WAL).
    */
  def compactedHwm(root: String, gen: Long): Long = {
    val m = java.nio.file.Paths.get(genDir(root, gen), "_COMPACTED")
    if (!java.nio.file.Files.exists(m)) -1L
    else new String(java.nio.file.Files.readAllBytes(m)).trim.toLong
  }

  /** Seal a generation's compaction barrier. Written BEFORE the
    * pointer moves, so a reader that sees the generation also sees its
    * retry fence.
    */
  def seal(root: String, gen: Long, hwm: Long): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(genDir(root, gen), "_COMPACTED"),
      hwm.toString.getBytes)

  /** The DELETE-id high-water mark of a generation (`_DELETES_HWM`), or
    * -1 when none was ever sealed. Delete batch ids normally belong to
    * the CALLER (replaying one is a semantic no-op, so [[seal]] never
    * covers them) — but a federation merge RENUMBERS carried delete
    * fragments into ids the caller never chose, and an innocent
    * post-merge takedown admitted under one of those ids (0 is the
    * natural first choice on a gen-1 merged store) would
    * mode-overwrite a carried builder takedown: a pending compliance
    * delete silently lost before compaction. The merge therefore seals
    * the renumbered delete-id space, and every `admitDelete*` refuses
    * ids at or below it. The seal is per-generation by construction:
    * the next compaction CONSUMES the renumbered fragments (applies
    * them physically; stragglers it carries were admitted post-merge,
    * so their caller-chosen ids are above this mark), leaving no
    * fragment in the new generation that a reused low id could
    * clobber — so the new generation correctly starts unfenced.
    */
  def deletesHwm(root: String, gen: Long): Long = {
    val m = java.nio.file.Paths.get(genDir(root, gen), "_DELETES_HWM")
    if (!java.nio.file.Files.exists(m)) -1L
    else new String(java.nio.file.Files.readAllBytes(m)).trim.toLong
  }

  /** Seal the delete-id space at `hwm` (see [[deletesHwm]]). No-op for
    * hwm < 0 so merge sites can call it unconditionally.
    */
  def sealDeletes(root: String, gen: Long, hwm: Long): Unit =
    if (hwm >= 0L) java.nio.file.Files.write(
      java.nio.file.Paths.get(genDir(root, gen), "_DELETES_HWM"),
      hwm.toString.getBytes)

  // -------------------------------------------------------------------------
  // LIVE-MERGE QUIESCE — the contract for merging stores whose sources
  // have CONTINUOUS admission sinks. A merge lists the source fragments
  // once; an admission landing after that listing would silently miss
  // the merged store. The protocol: (1) QUIESCE each live source — CAS
  // a `_MERGING` mark at its root naming the successor store; (2) every
  // admission front refuses a quiesced store loudly, naming the
  // successor, and the cooperating sink re-points there at its next
  // micro-batch boundary (foreachBatch is serial per query, so the
  // in-flight batch completed before the sink's next pre-check);
  // (3) the merge re-lists the sources after copying and REFUSES to
  // seal if anything moved — an in-flight admission that landed inside
  // the window makes the merge fail loudly instead of publishing a
  // store that silently misses (or tore) a fragment; the merge is
  // wipe-and-redo retryable, so the retry — issued once the writer has
  // observed the mark — converges and includes the straggler;
  // (4) after the merge, retire the sources (tombstone) or leave them
  // quiesced forever (the mark is permanent — a retired id space).
  // -------------------------------------------------------------------------

  private def quiescePath(root: String) =
    java.nio.file.Paths.get(root, "_MERGING")

  /** QUIESCE a store for federation merge: atomically mark it closed
    * for admission, naming the successor store admissions should go
    * to. CAS — a second quiesce fails loudly instead of silently
    * re-pointing the fleet somewhere else.
    */
  def quiesce(root: String, successorRoot: String): Unit = {
    require(successorRoot.nonEmpty, "quiesce needs a successor root")
    // per-attempt tmp name: a SHARED tmp would let a concurrent quiesce
    // rewrite the content between this writer's write and link — the
    // winner would atomically publish the LOSER's successor (and the
    // loser's cleanup could race the winner's link)
    val tmp = java.nio.file.Paths.get(root,
      s"_MERGING.${java.util.UUID.randomUUID}.tmp")
    java.nio.file.Files.write(tmp, successorRoot.getBytes)
    // CAS publish: hard-link the fully-written tmp into place —
    // atomically fails if the mark exists (a rename would silently
    // REPLACE it on POSIX, re-pointing the fleet), and readers never
    // see partial content (the link target is complete before it links)
    try java.nio.file.Files.createLink(quiescePath(root), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalStateException(
        s"store $root is already quiesced into " +
          s"'${quiescedSuccessor(root).getOrElse("?")}' — a second " +
          "quiesce would re-point the fleet; retire the store or use " +
          "the existing successor")
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** The successor a quiesced store forwards admissions to, or None
    * for a live store. The cooperative sink's per-micro-batch
    * pre-check (one file existence test).
    */
  def quiescedSuccessor(root: String): Option[String] = {
    val p = quiescePath(root)
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p)).trim)
  }

  /** The admission-front fence every store's `admit*` runs first:
    * refuse a quiesced store loudly, naming the successor.
    */
  def requireNotQuiesced(root: String): Unit =
    quiescedSuccessor(root).foreach { succ =>
      throw new IllegalStateException(
        s"store $root is quiesced for a federation merge — admissions " +
          s"re-point to '$succ'")
    }

  /** The POST-WRITE half of the quiesce fence, run by every admission
    * front AFTER its multi-second Spark write: the pre-check
    * ([[requireNotQuiesced]]) races the mark by construction — an
    * admission that passed it can complete its write inside the merge's
    * copy-to-seal gap, where even the movement fence
    * ([[requireSourcesUnmoved]]) no longer re-lists. Re-checking the
    * mark here closes that window: the write happened-before this
    * check, and the mark happened-before the merge's first listing, so
    * an admission the merge could have missed ALWAYS sees the mark and
    * throws — the caller re-admits at the successor (for the key-set
    * family a double admission is a semantic no-op; for count state the
    * orphan fragment sits in a retired generation no reader serves).
    */
  def requireStillNotQuiesced(root: String, what: String): Unit =
    quiescedSuccessor(root).foreach { succ =>
      throw new IllegalStateException(
        s"$what completed after store $root was quiesced into '$succ': " +
          "the fragment may be invisible to the in-flight merge — " +
          "re-admit at the successor (the quiesced source is never " +
          "served once retired)")
    }

  /** ABORT a quiesce — the guarded escape hatch for a quiesce issued in
    * error (wrong successor path, merge plans cancelled). Allowed ONLY
    * while no COMPLETED merge exists at the successor: once a merge
    * sealed there, the fleet's sinks may already have re-pointed and
    * admitted — un-quiescing the source would split the id space across
    * two live stores. "No completed merge" means the successor root (as
    * named by the mark) is absent, has no `_CURRENT` pointer, or its
    * current generation is still `_MERGE_PENDING`-marked / unsealed.
    * NOT safe against a merge IN FLIGHT at the instant of the abort:
    * cancel the merge job first — an abort only removes the mark, and a
    * racing merge that seals after it wins the guard's race.
    */
  def abortQuiesce(root: String): Unit = {
    val succ = quiescedSuccessor(root).getOrElse(
      throw new IllegalStateException(s"store $root is not quiesced"))
    val sealedMerge =
      hasPointer(succ) && {
        val gen = currentGen(succ)
        val dir = java.nio.file.Paths.get(genDir(succ, gen))
        if (java.nio.file.Files.isDirectory(dir))
          !java.nio.file.Files.exists(dir.resolve("_MERGE_PENDING")) &&
            compactedHwm(succ, gen) >= 0
        else
          // no generation dir: a CDC successor's pointer is written
          // LAST (mergeCdcStores), so pointer + v<cur> snapshot = a
          // sealed CDC merge; a bare pointer is only mergeFlatStoresHooked's
          // initIfAbsent — no fragment copied yet, safe to abort
          java.nio.file.Files.isDirectory(
            java.nio.file.Paths.get(succ, s"v$gen"))
      }
    if (sealedMerge) throw new IllegalStateException(
      s"cannot abort the quiesce of $root: successor '$succ' holds a " +
        "COMPLETED merge — sinks may already have re-pointed and " +
        "admitted there; retire this source instead")
    java.nio.file.Files.delete(quiescePath(root))
  }

  /** RETIRE a merged-away source store: tombstone-rename then delete
    * the whole root ([[tombstoneDelete]]'s crash discipline — a racing
    * reader never observes a partial root that still resolves).
    */
  def retire(root: String): Unit =
    tombstoneDelete(java.nio.file.Paths.get(root))

  // -------------------------------------------------------------------------
  // ADMISSION and PUBLISH — the two halves every store shares. A front
  // writes one fragment under the generation it read; a publish folds
  // the listed fragments into the next generation, carries what landed
  // after the listing, seals, and moves the pointer. Each fence below
  // closes one interleaving of the two.
  // -------------------------------------------------------------------------

  /** `dir/table`, or `dir` itself for fragments directly under it. */
  private def sub(dir: String, table: String): String =
    if (table.isEmpty) dir else s"$dir/$table"

  /** The FENCED ADMISSION every store front runs around its fragment
    * write (`write` gets the generation directory of `gen`):
    *  - refuse a quiesced store ([[requireNotQuiesced]]);
    *  - data ids at or below the generation's compaction seal
    *    ([[compactedHwm]]) are refused — they are INSIDE the compacted
    *    fragment, and a per-batch overwrite would replace it; delete ids
    *    (`deletes`) are refused at or below the merge-renumbered delete-id
    *    mark ([[deletesHwm]]) instead — a delete replay is a semantic
    *    no-op, but overwriting a renumbered id clobbers a carried takedown;
    *  - after the write (and `midHook`, the race-test seam), the quiesce
    *    mark is re-checked ([[requireStillNotQuiesced]]) and so is the
    *    pointer: a publish that moved it in between may have listed the
    *    generation before this fragment landed, so the admission throws
    *    and the caller re-admits under the current generation, never
    *    lands invisibly in a superseded one.
    * `verb` names a data write in the errors ("admit of", "retraction"),
    * `racedWith` what can move the pointer, `sealedWhy` why a sealed id
    * is refused.
    */
  private[graft] def admit(root: String, gen: Long, batchId: Long,
      deletes: Boolean = false, verb: String = "admit of",
      racedWith: String = "a compaction",
      sealedWhy: String = "replays of compacted batches are refused",
      midHook: () => Unit = () => ())(write: String => Unit): Unit = {
    requireNotQuiesced(root)
    if (deletes) {
      val dhwm = deletesHwm(root, gen)
      require(batchId > dhwm,
        s"delete batch_id=$batchId is at or below gen=$gen's delete-id " +
          s"high-water mark $dhwm: a federation merge renumbered carried " +
          "delete fragments into that id space — admitting under one of " +
          "those ids would clobber a pending takedown; use a fresh id above " +
          "the mark")
    } else {
      val hwm = compactedHwm(root, gen)
      require(batchId > hwm,
        s"batch_id=$batchId is at or below gen=$gen's compacted high-water " +
          s"mark $hwm: compaction sealed it; $sealedWhy")
    }
    write(genDir(root, gen))
    midHook()
    val what = s"${if (deletes) "delete" else verb} batch_id=$batchId"
    requireStillNotQuiesced(root, what)
    val now = currentGen(root)
    if (now != gen) throw new IllegalStateException(
      s"$what raced $racedWith: wrote under gen=$gen but _CURRENT is now " +
        s"gen=$now — re-admit under the current generation")
  }

  /** One publish's listing, handed to the store's fold: the source and
    * target generation directories, every data fragment id listed
    * (`all`), the ids the fold keeps (`ids`), and the pending delete ids
    * listed with them.
    */
  private[graft] final case class Listing(src: String, dst: String,
      all: Seq[Long], ids: Seq[Long], delIds: Seq[Long]) {
    /** The seal: the FULL listing's high-water mark — an expired id must
      * refuse replay (it would resurrect aged-out data) exactly like a
      * folded one.
      */
    def hwm: Long = all.max

    /** `dir/batch_id=i` for each listed `i` in `is`. */
    def paths(dir: String, is: Seq[Long]): Seq[String] =
      is.map(i => s"$dir/batch_id=$i")

    /** The listed pending delete fragments. */
    def delPaths: Seq[String] = paths(s"$src/deletes", delIds)

    /** Rewrite fragment `i` of `table` into the target generation
      * unchanged — the straggler carry of a fold that leaves later
      * batches as they are.
      */
    def carry(spark: SparkSession, table: String = "")(i: Long): Unit =
      Tables.parquet(spark, s"${sub(src, table)}/batch_id=$i")
        .write.mode("overwrite").parquet(s"${sub(dst, table)}/batch_id=$i")
  }

  /** PUBLISH a new generation — the one sequence behind every
    * compaction, expiry and scoped rebuild of the family:
    *  1. compare-and-swap on `expectedGen`: a retry after success (or a
    *     racing second publish) returns the current generation untouched;
    *  2. list the data fragments of the store's `table` (and its pending
    *     deletes); `retain` drops expired ids from the fold, `midHook`
    *     runs after the listing (the race-test seam);
    *  3. `fold` writes the next generation from the LISTED fragments —
    *     never a directory-wide read, which would fold a straggler into
    *     the merge and the sweep both — and returns its straggler carry;
    *  4. sweep: data fragments admitted since the listing go through the
    *     carry under their own ids, delete fragments ride along PENDING
    *     (a scoped one is refused: its bound names batch ids this fold
    *     just merged, so carrying it could unmask the copy it kills);
    *  5. seal the next generation (`sealAt`, default the listing's
    *     high-water mark) BEFORE the pointer moves, so a reader that sees
    *     the generation also sees its retry fence; move the pointer;
    *  6. sweep again — the list-to-publish window converged. An admission
    *     landing later still fails its own pointer re-check ([[admit]]).
    * Returns the published generation. Readers are generation-isolated
    * throughout: nothing here writes the generation they read.
    */
  private[graft] def publish(spark: SparkSession, root: String,
      expectedGen: Long, table: String = "",
      retain: Long => Boolean = _ => true, midHook: () => Unit = () => (),
      action: String = "compact", sealAt: Listing => Long = _.hwm)(
      fold: Listing => Long => Unit): Long = {
    val cur = currentGen(root)
    if (cur != expectedGen) return cur
    val src = genDir(root, cur)
    val data = sub(src, table)
    val all = listBatchIds(spark, data)
    require(all.nonEmpty, s"nothing to $action under $src")
    val ids = all.filter(retain)
    require(ids.nonEmpty,
      "retention would empty the store — at least one fragment must " +
        "survive; to drop everything, initialize a fresh root instead")
    val l = Listing(src, genDir(root, cur + 1), all, ids,
      listBatchIds(spark, s"$src/deletes"))
    midHook()
    val carry = fold(l)
    def sweep(): Unit = {
      // subtract the FULL listing (an expired fragment is not a
      // straggler) and retain-filter what remains
      (listBatchIds(spark, data).toSet -- all).filter(retain).toSeq.sorted
        .foreach(carry)
      (listBatchIds(spark, s"$src/deletes").toSet -- l.delIds).toSeq.sorted
        .foreach { i =>
          val straggler = Tables.parquet(spark, s"$src/deletes/batch_id=$i")
          if (hasScoped(straggler)) throw new IllegalStateException(
            s"scoped (hwm) delete batch_id=$i landed during a compaction " +
              s"of $root: scoped deletes reference pre-fold admission " +
              "batch ids and cannot be carried pending across the fold — " +
              "the upsert front must serialize its ticks against " +
              "compaction (re-run the tick against the new generation)")
          straggler.write.mode("overwrite")
            .parquet(s"${l.dst}/deletes/batch_id=$i")
        }
    }
    sweep()
    seal(root, cur + 1, sealAt(l))
    writePointer(root, cur + 1)
    sweep()
    cur + 1
  }

  /** Reader options of a delete-set read: fragments written before the
    * `hwm` column existed sit beside fragments that carry it, so their
    * footers are merged (on the driver for a few fragments,
    * `GraftParquetFormat`).
    */
  private[graft] val MergeSchema = Map("mergeSchema" -> "true")

  /** True when a delete frame holds an hwm-SCOPED row (the ordered
    * delete of [[InvertedIndex.admitReplaceBatch]]): its mask bound
    * names admission batch ids of one generation, which a fold or a
    * merge renumbers. Takedowns (no `hwm` column, or hwm = infinity)
    * are renumber-invariant.
    */
  private[graft] def hasScoped(dels: DataFrame): Boolean =
    dels.columns.contains("hwm") &&
      dels.filter(col("hwm") =!= Long.MaxValue).limit(1).count() > 0

  /** Pending deletes as one `(idCol, del_hwm)` row per deleted id with
    * the HIGHEST mask bound across its delete rows (an id has at most
    * one live copy, so the max bound is the one that matters); rows
    * written before the hwm column existed are unbounded.
    */
  private[graft] def deleteMask(raw: DataFrame, idCol: String): DataFrame = {
    val hwmCol = if (raw.columns.contains("hwm"))
      coalesce(col("hwm"), lit(Long.MaxValue)) else lit(Long.MaxValue)
    raw.groupBy(col(idCol)).agg(max(hwmCol).as("del_hwm"))
  }

  /** Keep the rows of `cands` (which carry the admission `batch_id`)
    * that survive a [[deleteMask]]: a row dies when a delete of its id
    * has `del_hwm >= batch_id`. With takedowns only this is a plain
    * anti-join.
    */
  private[graft] def maskLive(cands: DataFrame, del: DataFrame,
      idCol: String): DataFrame =
    cands.join(del, Seq(idCol), "left")
      .filter(col("del_hwm").isNull || col("batch_id") > col("del_hwm"))
      .drop("del_hwm")

  /** FILE-LEVEL manifest of a directory tree: every file's (relative
    * path, length, modification time), sorted — the movement fence's
    * observation unit. A batch-id SET compare would miss an in-flight
    * IDEMPOTENT re-admission (mode-overwrite of an existing `batch_id=`
    * directory) landing mid-copy: the id set is unchanged while the
    * byte-level copy may have captured a torn mix of old and new part
    * files. File names (writer UUIDs — never reused), lengths and
    * mtimes change under any rewrite, so the manifest catches it.
    */
  private[graft] def listManifest(spark: SparkSession,
      dir: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
        fs.listStatus(p).toSeq.flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else Seq((s.getPath.toString.stripPrefix(root.toString),
            s.getLen, s.getModificationTime))
        }
      walk(root).sortBy(_._1)
    }
  }

  /** The post-copy movement check: a merge took a file-level manifest
    * ([[listManifest]]) of each source before copying; if any source's
    * manifest changed since, a write landed inside the window (quiesce
    * violated, or an in-flight write completed after the listing) — the
    * copy may have missed it or torn it, so REFUSE to seal. Compares
    * whole manifests, not just fragment-id sets: an idempotent
    * re-admission that overwrites an EXISTING batch directory leaves
    * the id set unchanged but not the file names/lengths/mtimes. The
    * merge target is wipe-and-redo retryable ([[mergeOpen]]): retry
    * once the source is quiet and the straggler merges cleanly.
    */
  private[graft] def requireSourcesUnmoved(spark: SparkSession,
      observed: Seq[(String, Seq[(String, Long, Long)])]): Unit =
    observed.foreach { case (dir, manifest) =>
      val now = listManifest(spark, dir)
      if (now != manifest) throw new IllegalStateException(
        s"source $dir changed during the merge (" +
          s"${manifest.size} files -> ${now.size}, or contents rewritten " +
          "in place): a write landed inside the copy window — quiesce " +
          "the source (GenStore.quiesce) and retry the merge; the " +
          "unsealed target is wiped and redone on retry")
    }

  /** BYTE-LEVEL parallel fragment copy — the federation-merge data
    * mover. Sealed fragments are immutable parquet, so a merge needs
    * no decode: each (srcDir → dstDir) pair is a raw recursive file
    * copy, and all pairs run concurrently on the driver's thread pool
    * (the [[footerRowCount]] pattern — zero Spark jobs, zero executor
    * dispatch, no re-encode). Cost model at fleet scale: a K-builder
    * merge is O(index bytes / copy bandwidth) with file-count-bounded
    * dispatch, not K×fragments×tables serial Spark jobs each paying a
    * parquet decode+re-encode. Each pair is idempotent (a partial
    * prior copy at `dstDir` is replaced whole), which is what makes
    * merge retry after a crash safe: the seal is written last, so an
    * unsealed target is always a redo-able prefix.
    */
  private[graft] def copyFragments(spark: SparkSession,
      pairs: Seq[(String, String)]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val conf = spark.sessionState.newHadoopConf()
    Await.result(Future.sequence(pairs.map { case (s, d) => Future {
      val sp = new org.apache.hadoop.fs.Path(s)
      val dp = new org.apache.hadoop.fs.Path(d)
      val sfs = sp.getFileSystem(conf)
      val dfs = dp.getFileSystem(conf)
      if (dfs.exists(dp)) dfs.delete(dp, true)
      dfs.mkdirs(dp.getParent)
      if (!org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
          /* deleteSource = */ false, conf))
        throw new java.io.IOException(s"fragment copy failed: $s -> $d")
    }}), Duration.Inf)
  }

  /** Open a merge target generation for writing — the crash-retry
    * guard shared by every `mergeStores`. A merge writes fragments
    * first and the `_COMPACTED` seal LAST, so a target generation
    * holding fragments without a seal is either (a) a crashed previous
    * attempt at this merge — identified by the `_MERGE_PENDING` mark
    * this guard writes before any fragment lands, safe to wipe and
    * redo whole — or (b) a LIVE never-compacted store someone passed
    * by mistake, which has fragments but no mark and must be refused,
    * never overwritten. Call [[mergeSeal]] to finish.
    */
  private[graft] def mergeOpen(spark: SparkSession, root: String,
      gen: Long, occupied: Boolean): Unit = {
    val dir = genDir(root, gen)
    val mark = java.nio.file.Paths.get(dir, "_MERGE_PENDING")
    require(!occupied || java.nio.file.Files.exists(mark),
      s"merge target $root holds fragments but no _MERGE_PENDING mark — " +
        "it is a live store, not a crashed merge; refusing to overwrite")
    if (occupied) {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(p, true)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(mark, Array.emptyByteArray)
  }

  /** Finish a merge: seal the delete-id space and the data ids (in
    * that order — the data seal is the completion marker), then drop
    * the `_MERGE_PENDING` mark. A crash after the data seal leaves a
    * COMPLETE store with a stale mark; the next merge attempt at this
    * root fails its "already sealed" require, which is the caller's
    * signal that the merge in fact succeeded.
    */
  private[graft] def mergeSeal(root: String, gen: Long, dataHwm: Long,
      delHwm: Long): Unit = {
    sealDeletes(root, gen, delHwm)
    seal(root, gen, dataHwm)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(genDir(root, gen), "_MERGE_PENDING"))
  }

  /** FEDERATION MERGE of stores with pending deletes and a fold — the
    * scale-out ingestion pattern ([[InvertedIndex.mergeStores]],
    * [[VectorStore.mergeStores]], [[KeySetStore.mergeStores]]): K
    * independent builders, one serving store at the end.
    *
    * `compactFirst` folds each source that holds more than one data
    * fragment or any pending delete before the copy — the
    * COMPACT-BEFORE-QUIESCE economics (SCALE.md's K-sweep: K builders'
    * uncompacted fragments hold ~K× the bytes of one folded store), so
    * the copy moves near-minimal bytes and the merged store starts
    * compacted. Legal on quiesced sources: the quiesce fence guards
    * admission fronts only.
    *
    * `scopedFence` refuses a source with pending hwm-SCOPED deletes
    * ([[hasScoped]]): their bounds reference source-local admission
    * batch ids, which the merge renumbers. Compacting the source first
    * applies the mask and clears the pending set.
    */
  private[graft] def mergeStores(spark: SparkSession, srcRoots: Seq[String],
      dstRoot: String, tables: Seq[String],
      compactFirst: Option[(String, Long) => Long], scopedFence: Boolean,
      prepare: () => Unit = () => ()): Long = {
    require(srcRoots.size >= 2, "mergeStores needs at least two sources")
    compactFirst.foreach { compact => srcRoots.foreach { src =>
      val g = currentGen(src)
      val sdir = genDir(src, g)
      if (listBatchIds(spark, sub(sdir, tables.head)).size > 1 ||
        listBatchIds(spark, s"$sdir/deletes").nonEmpty)
        compact(src, g)
    }}
    if (scopedFence) srcRoots.foreach { src =>
      val sdir = genDir(src, currentGen(src))
      val delIds = listBatchIds(spark, s"$sdir/deletes")
      if (delIds.nonEmpty && hasScoped(Tables.parquet(spark, MergeSchema,
          delIds.map(i => s"$sdir/deletes/batch_id=$i"): _*)))
        throw new IllegalStateException(
          s"source $src has pending SCOPED (hwm) deletes: their " +
            "high-water marks reference source-local admission batch " +
            "ids, which this merge renumbers — compact the source " +
            "first (or pass compactFirst = true)")
    }
    mergeFlatStoresHooked(spark, srcRoots, dstRoot, () => (), tables, prepare)
  }

  /** The federation-merge copy: each source's current-generation
    * fragments copy under fresh sequential ids — every table one batch
    * id spans (`tables`; "" = fragments directly under the generation
    * directory) moves together under the new id — as a BYTE-LEVEL
    * parallel copy ([[copyFragments]]): the fragments are immutable
    * sealed parquet, so no decode, no Spark job, no shuffle. Pending
    * delete fragments ride along under renumbered ids; the occupied data
    * ids AND the renumbered delete-id space ([[deletesHwm]]) are sealed.
    * `prepare` runs once the target generation is open (a store that
    * keeps an index artifact in the generation writes it there).
    * Caller contract: compatible fragment schemas and a `dstRoot` that
    * is fresh or holds only a crashed previous attempt at this merge
    * (the seal is written last, so an unsealed target is wiped and
    * redone — merge is crash-retryable, [[mergeOpen]]).
    *
    * `midHook` runs between the fragment listing and the copy — the
    * race-test seam for the live-merge window: a fragment landing
    * inside it must make the merge REFUSE to seal
    * ([[requireSourcesUnmoved]]), never publish a store missing it.
    */
  private[graft] def mergeFlatStoresHooked(spark: SparkSession,
      srcRoots: Seq[String], dstRoot: String, midHook: () => Unit,
      tables: Seq[String] = Seq(""), prepare: () => Unit = () => ()): Long = {
    require(srcRoots.size >= 2, "mergeStores needs at least two sources")
    initIfAbsent(dstRoot)
    require(currentGen(dstRoot) == 1L && compactedHwm(dstRoot, 1L) == -1L,
      s"merge target $dstRoot must be a fresh store root (or an unsealed " +
        "partial merge); it already holds a sealed generation")
    val dst = genDir(dstRoot, 1L)
    mergeOpen(spark, dstRoot, 1L,
      occupied = java.nio.file.Files.exists(java.nio.file.Paths.get(dst)))
    prepare()
    var next = 0L
    var delNext = 0L
    val observed = scala.collection.mutable.ArrayBuffer
      .empty[(String, Seq[(String, Long, Long)])]
    val pairs = srcRoots.flatMap { src =>
      val sdir = genDir(src, currentGen(src))
      val ids = listBatchIds(spark, sub(sdir, tables.head))
      val delIds = listBatchIds(spark, s"$sdir/deletes")
      // one file-level manifest per source generation covers every
      // table AND the deletes — including in-place rewrites
      observed += ((sdir, listManifest(spark, sdir)))
      ids.flatMap { i =>
        val ps = tables.map(t =>
          (s"${sub(sdir, t)}/batch_id=$i", s"${sub(dst, t)}/batch_id=$next"))
        next += 1; ps
      } ++ delIds.map { i =>
        val p = (s"$sdir/deletes/batch_id=$i",
          s"$dst/deletes/batch_id=$delNext")
        delNext += 1; p
      }
    }
    require(next > 0, "no data fragments found under any source's " +
      "current generation — refusing to seal an empty merged store " +
      "(were the right roots passed?)")
    midHook()
    copyFragments(spark, pairs)
    // the live-merge fence: anything moved since the listing -> refuse
    // to seal (retry is a wipe-and-redo once the source is quiet)
    requireSourcesUnmoved(spark, observed.toSeq)
    mergeSeal(dstRoot, 1L, next - 1, delNext - 1)
    1L
  }

  /** Published versions of a versioned root still on disk, ascending:
    * the directories named `prefix` + number (`gen=` for the stores,
    * `v` for the CDC, label and manifest roots) at or below the pointer.
    * Tombstoned `.deleted` directories and unpublished versions above
    * the pointer are excluded.
    */
  private[graft] def listVersions(root: String, prefix: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val cur = currentGen(root)
    // Files.list holds a directory handle until closed: these listings
    // run once per streaming micro-batch on long-lived drivers, so an
    // unclosed stream is a slow fd leak
    scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(root))) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches(s"$prefix\\d+") => s.drop(prefix.length).toLong }
        .filter(_ <= cur).toSeq.sorted
    }
  }

  /** Published generations still on disk, ascending. */
  def listGenerations(root: String): Seq[Long] = listVersions(root, "gen=")

  /** Keep-last RETENTION over a versioned root: drop every published
    * version ([[listVersions]]) older than the newest `keepLast`, except
    * those in `keep`, together with its `suffixes` siblings (`""` is the
    * version directory itself). `beforeDrop` runs with the oldest
    * retained version before anything is dropped (the CDC vacuum seals
    * a promoted twin there). Tombstones a crashed earlier vacuum left
    * are swept first, and each dropped directory is tombstone-renamed
    * before deletion ([[tombstoneDelete]]), so a crash mid-vacuum or a
    * racing reader never observes a partial version that still
    * resolves. Returns the dropped versions.
    */
  private[graft] def vacuumVersions(root: String, prefix: String,
      keepLast: Int, keep: Set[Long] = Set.empty,
      suffixes: Seq[String] = Seq(""),
      beforeDrop: Long => Unit = _ => ()): Seq[Long] = {
    require(keepLast >= 1, "keepLast must retain at least the current version")
    sweepTombstones(java.nio.file.Paths.get(root))
    val vs = listVersions(root, prefix)
    val drop = vs.dropRight(keepLast).filterNot(keep)
    if (drop.nonEmpty) beforeDrop(vs(vs.size - keepLast))
    for (v <- drop; sfx <- suffixes)
      tombstoneDelete(java.nio.file.Paths.get(root, s"$prefix$v$sfx"))
    drop
  }

  /** Retention for superseded generations: [[vacuumVersions]] over the
    * `gen=N` directories, keeping those in `keep`. `keep` is the
    * enforcement hook for cross-store pins ([[Manifest.vacuumStore]]
    * passes the generations that retained manifest versions still pin,
    * turning [[Manifest.retainedPins]] from an advisory audit into an
    * invariant the vacuum cannot violate).
    */
  def vacuumExcept(root: String, keepLast: Int,
      keep: Set[Long]): Seq[Long] =
    vacuumVersions(root, "gen=", keepLast, keep)

  /** Finish any `.deleted` tombstones a crashed earlier vacuum left
    * behind — they are already invisible to readers (no listing matches
    * them), this just reclaims the space. Called at the start of every
    * vacuum.
    */
  private[graft] def sweepTombstones(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(dir)) return
    val leftovers = scala.util.Using.resource(java.nio.file.Files.list(dir)) {
      st => st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".deleted")).toSeq
    }
    leftovers.foreach(reallyDelete)
  }

  private def reallyDelete(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
      st.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists)
    }
  }

  /** Atomic-visibility directory delete: rename to a `.deleted`
    * tombstone first (readers' exact-name checks fail from that instant
    * on), then delete the tombstone's contents; a pre-existing tombstone
    * from a crashed earlier vacuum is finished off first.
    */
  private[graft] def tombstoneDelete(dir: java.nio.file.Path): Unit = {
    val tomb = dir.resolveSibling(dir.getFileName.toString + ".deleted")
    if (java.nio.file.Files.exists(tomb)) reallyDelete(tomb)
    if (java.nio.file.Files.exists(dir)) {
      java.nio.file.Files.move(dir, tomb,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      reallyDelete(tomb)
    }
  }

  // -------------------------------------------------------------------------
  // COMPACTION POLICY — one trigger and one dashboard for the family.
  // A store states its [[Layout]]; every policy read is a listing plus
  // parquet-footer counts ([[footerRowCount]]), so a maintenance loop
  // can afford it every batch.
  // -------------------------------------------------------------------------

  /** The policy's default `maxFragments`: compact once this many
    * fragments accumulate (the dial that bounds steady-state read
    * amplification).
    */
  final val MaxFragments = 16

  /** The policy's default `maxPendingFraction`: compact once the
    * pending-delete rows reach this fraction of the data rows (the dial
    * that bounds the takedown serving window).
    */
  final val MaxPendingFraction = 0.05

  /** How a store lays out one generation: `tables` are the
    * sub-directories one batch id spans (the first holds the fragments
    * the policy counts; "" = fragments directly under the generation
    * directory), and `dataRows` counts a generation directory's data
    * rows. Pending rows are the footer count of its `deletes/` table.
    */
  private[graft] final case class Layout(tables: Seq[String],
      dataRows: (SparkSession, String) => Long) {
    def table: String = tables.head
    def dataDir(dir: String): String = sub(dir, table)
  }

  /** Fragments directly under the generation directory, data rows
    * counted from their footers.
    */
  private[graft] val Flat: Layout = Layout(Seq(""), (spark, dir) =>
    footerRowCount(spark, listBatchIds(spark, dir).map(i => s"$dir/batch_id=$i")))

  /** The COMPACTION-POLICY predicate over one generation's reads: true
    * when the fragment count reached `maxFragments` (read
    * amplification) OR the pending-delete rows grew past
    * `maxPendingFraction` of the data rows (every read pays that mask
    * until a compaction folds it away — the takedown serving window,
    * bounded by CONTRACT once this predicate drives the maintenance
    * loop). A store with pending deletes but no data rows compacts; one
    * with no fragments does not (deletes alone can wait). `pending` and
    * `dataRows` are read only when the fragment count leaves the answer
    * open (and `dataRows` only with deletes pending).
    */
  private[graft] def compactionDue(frags: Long, pending: => Long,
      dataRows: => Long, maxFragments: Int,
      maxPendingFraction: Double): Boolean = {
    require(maxFragments >= 2, "maxFragments < 2 would compact every batch")
    require(maxPendingFraction > 0, "maxPendingFraction must be positive")
    if (frags == 0) false
    else if (frags >= maxFragments) true
    else {
      val p = pending
      p > 0 && p.toDouble >= maxPendingFraction * dataRows
    }
  }

  /** One store of the FRAGMENT-STORE FAMILY. A store object extends
    * [[PendingDeleteStore]] or [[MergeableStore]] and states only its
    * [[layout]] (default [[Flat]]) and its compaction body; this trait
    * supplies the per-root surface every store shares: restart-safe
    * init, the pointer and seal reads, the fragment count, the policy
    * on one set of reads, the dashboard row, and the opening of a
    * generation's pending deletes.
    */
  trait FragmentStore {

    /** How this store lays out one generation. */
    private[graft] def layout: Layout = Flat

    /** Create the store (generation 1, empty) if no pointer exists.
      * Idempotent AND restart-safe: on an advanced store this is a no-op
      * (a plain [[GenStore.init]] would re-point readers at the
      * superseded generation 1). A store whose generation 1 holds more
      * than fragments ([[VectorStore]]'s index artifact) initializes
      * through its own `init`.
      */
    def initStore(root: String): Unit = initIfAbsent(root)

    /** The generation readers currently see. */
    def currentGen(root: String): Long = GenStore.currentGen(root)

    /** One generation's directory. */
    def genDir(root: String, gen: Long): String = GenStore.genDir(root, gen)

    /** The compacted high-water mark of a generation
      * ([[GenStore.compactedHwm]]): -1 for a never-compacted generation;
      * batch ids at or below it are sealed inside the compacted fragment.
      */
    def compactedHwm(root: String, gen: Long): Long =
      GenStore.compactedHwm(root, gen)

    /** Fragments of the current generation — the quantity compaction
      * exists to bound.
      */
    def fragmentCount(spark: SparkSession, root: String): Long =
      fragmentsIn(spark, genDir(root, currentGen(root)))

    private def fragmentsIn(spark: SparkSession, dir: String): Long =
      listBatchIds(spark, layout.dataDir(dir)).size.toLong

    /** [[compactionDue]] on the current generation's listing and
      * footers.
      */
    protected def due(spark: SparkSession, root: String, maxFragments: Int,
        maxPendingFraction: Double = MaxPendingFraction): Boolean = {
      val dir = genDir(root, currentGen(root))
      compactionDue(fragmentsIn(spark, dir),
        footerRowCount(spark, Seq(s"$dir/deletes")),
        layout.dataRows(spark, dir), maxFragments, maxPendingFraction)
    }

    /** Run `compact` on the current generation when [[due]]. Returns the
      * new generation when it fired.
      */
    protected def compactWhenDue(spark: SparkSession, root: String,
        maxFragments: Int, maxPendingFraction: Double = MaxPendingFraction)(
        compact: Long => Long): Option[Long] =
      if (!due(spark, root, maxFragments, maxPendingFraction)) None
      else Some(compact(currentGen(root)))

    /** The operational dashboard row the maintenance loop reads: one row
      * of (generation, fragments, data_rows, pending_rows,
      * pending_fraction, needs_compaction) for the current generation —
      * the inputs [[compactionDue]] evaluates and its answer, from ONE
      * read of each, so a scheduler (or a human) sees WHY a tick will or
      * won't fire and the row never disagrees with itself.
      */
    protected def status(spark: SparkSession, root: String,
        maxFragments: Int,
        maxPendingFraction: Double = MaxPendingFraction): DataFrame = {
      import spark.implicits._
      val gen = currentGen(root)
      val dir = genDir(root, gen)
      val frags = fragmentsIn(spark, dir)
      val dataRows = layout.dataRows(spark, dir)
      val pendingRows = footerRowCount(spark, Seq(s"$dir/deletes"))
      Seq((gen, frags, dataRows, pendingRows,
        if (dataRows == 0) (if (pendingRows > 0) 1.0 else 0.0)
        else pendingRows.toDouble / dataRows,
        compactionDue(frags, pendingRows, dataRows, maxFragments,
          maxPendingFraction)))
        .toDF("generation", "fragments", "data_rows", "pending_rows",
          "pending_fraction", "needs_compaction")
    }

    /** The pending delete fragments of the generation directory `dir`,
      * read with `options`, or None when no delete was ever admitted
      * there (the common case: read plans stay untouched).
      */
    protected def pendingDeletesUnder(spark: SparkSession, dir: String,
        options: Map[String, String] = Map.empty): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/deletes")
      if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
      else Some(Tables.parquet(spark, options, s"$dir/deletes"))
    }
  }

  /** A family store with a pending-delete table ([[InvertedIndex]],
    * [[VectorStore]], [[KeySetStore]]): its policy weighs the pending
    * rows against the data rows as well as counting fragments, and
    * [[compactStore]] folds the deletes away.
    */
  trait PendingDeleteStore extends FragmentStore {

    /** COMPACT generation `expectedGen` (compare-and-swap: a retry after
      * success returns the current generation untouched). Returns the
      * published generation.
      */
    private[graft] def compactStore(spark: SparkSession, root: String,
        expectedGen: Long): Long

    /** The COMPACTION-POLICY predicate ([[compactionDue]]) on the
      * current generation: the fragment count, or the pending-delete
      * rows against the data rows. Footer-metadata reads, plus whatever
      * the store's [[layout]] needs to count its data rows.
      */
    def needsCompaction(spark: SparkSession, root: String,
        maxFragments: Int = MaxFragments,
        maxPendingFraction: Double = MaxPendingFraction): Boolean =
      due(spark, root, maxFragments, maxPendingFraction)

    /** Run [[compactStore]] when [[needsCompaction]] says so. Returns the
      * new generation when it fired.
      */
    def compactIfNeeded(spark: SparkSession, root: String,
        maxFragments: Int = MaxFragments,
        maxPendingFraction: Double = MaxPendingFraction): Option[Long] =
      compactWhenDue(spark, root, maxFragments, maxPendingFraction)(
        compactStore(spark, root, _))

    /** The maintenance dashboard row ([[FragmentStore.status]]). */
    def maintenanceStatus(spark: SparkSession, root: String,
        maxFragments: Int = MaxFragments,
        maxPendingFraction: Double = MaxPendingFraction): DataFrame =
      status(spark, root, maxFragments, maxPendingFraction)
  }

  /** A delete-free family store of flat fragments ([[SketchStore]],
    * [[QuantileStore]], [[HeavyHitters]]): the reads union fragments by
    * algebra, so nothing can be pending and the policy is the fragment
    * count alone — a missing `deletes/` table counts zero rows. Each
    * store's `compactIfNeeded` passes its fold's own argument (key
    * columns, summary size) to [[compactWhenDue]].
    */
  trait MergeableStore extends FragmentStore {

    /** The compaction-policy predicate, fragment leg only. */
    def needsCompaction(spark: SparkSession, root: String,
        maxFragments: Int = MaxFragments): Boolean =
      due(spark, root, maxFragments)

    /** The maintenance dashboard row ([[FragmentStore.status]]); its
      * pending side is structurally zero, which the row states rather
      * than hides.
      */
    def maintenanceStatus(spark: SparkSession, root: String,
        maxFragments: Int = MaxFragments): DataFrame =
      status(spark, root, maxFragments)

    /** FEDERATION MERGE ([[mergeFlatStoresHooked]]): K partitions build
      * independently and merge by fragment copies — the read's own
      * algebra (register union, MG merge, count sum) makes the merged
      * answers equal a single-pipeline store's, so a merge IS just the
      * fragments side by side. Same parameters (lgK, m, bin geometry)
      * across sources.
      */
    def mergeStores(spark: SparkSession, srcRoots: Seq[String],
        dstRoot: String): Long =
      mergeFlatStoresHooked(spark, srcRoots, dstRoot, () => ())
  }

  /** Total row count under `dirs`, read from parquet FOOTERS only —
    * no Spark job, no data pages, just one footer read per file. This
    * is the cost model the `needsCompaction` policy predicates are
    * held to: deciding WHETHER to compact must stay a metadata read a
    * maintenance loop can afford every batch, or nobody runs it and
    * pending-delete windows grow unbounded. Missing directories count
    * zero (the common no-deletes case costs one existence check).
    */
  def footerRowCount(spark: SparkSession, dirs: Seq[String]): Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val conf = spark.sessionState.newHadoopConf()
    val all = dirs.flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else {
        def files(path: org.apache.hadoop.fs.Path):
            Seq[org.apache.hadoop.fs.FileStatus] = {
          val ls = fs.listStatus(path).toSeq
          ls.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet")) ++
            ls.filter(_.isDirectory).flatMap(s => files(s.getPath))
        }
        files(p)
      }
    }
    // footer reads are independent metadata fetches — run them on the
    // driver's thread pool (no Spark job, no executor involvement, no
    // scheduler latency): a store's file count is bounded by the
    // compaction policy itself, so this is dozens of footers, not
    // thousands
    Await.result(Future.sequence(all.map(s => Future {
      scala.util.Using.resource(
          org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(s, conf))) { r =>
        r.getRecordCount
      }
    })), Duration.Inf).sum
  }
}
