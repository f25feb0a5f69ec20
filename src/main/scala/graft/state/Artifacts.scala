package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingSearch.{CosineInventory, Posting}

/** Persistence + size discipline for the frozen door-check artifacts —
  * the tables/maps an ingest tier scores arriving records against
  * (cosine inventory, fuzzy gram-rarity, jaccard shingle-df, novelty
  * gram inventory, bloom blobs). A real release does not retrain these
  * per process: it persists them with the corpus release and every
  * ingest worker loads the same bytes — the same store-recovery
  * discipline the reference applies to its state stores
  * (`kstream/store/recoverable_store.go:24-48`: recover from the changelog
  * before serving, never rebuild from scratch).
  *
  * Two rules, enforced here for the whole family:
  *
  *   - **Round-trip exactness**: `load(save(x)) ≡ x` — spec-pinned per
  *     artifact, so a loaded artifact scores records bit-identically to
  *     the trained one (and stream≡batch pins keep holding through a
  *     persistence hop).
  *   - **Ceilings, not OOMs**: every artifact that materializes on the
  *     driver (rarity maps, cosine postings, bloom blobs) is guarded by
  *     an explicit ceiling and REFUSES loudly when training data outgrows
  *     it, instead of OOMing mid-build or silently degrading. The guard
  *     uses `limit(ceiling + 1)` so the driver never holds more than
  *     ceiling + 1 rows even while failing. The novelty inventory has NO
  *     collected form at all — it grows near-linearly with corpus tokens,
  *     so it only exists as a distributed DataFrame (see
  *     [[graft.operators.Dedup.noveltyInventory]]).
  */
object Artifacts {

  /** Loud ceiling check — the family's shared refusal message. */
  def guardCeiling(actual: Long, ceiling: Long, what: String,
      unit: String = "entries"): Unit =
    require(actual <= ceiling,
      s"$what needs $actual $unit, over the configured ceiling of " +
        s"$ceiling $unit — refusing to materialize a driver-side " +
        s"artifact this large; raise the ceiling explicitly or keep " +
        s"the distributed (join) form")

  /** Collect ≤ `ceiling` rows or refuse: the driver holds at most
    * ceiling + 1 rows even on the failure path.
    */
  private[graft] def boundedCollect(df: DataFrame, ceiling: Int,
      what: String): Array[org.apache.spark.sql.Row] = {
    require(ceiling >= 1, s"need ceiling >= 1, got $ceiling")
    val rows = df.limit(ceiling + 1).collect()
    guardCeiling(if (rows.length > ceiling) ceiling + 1L else rows.length,
      ceiling, what)
    rows
  }

  // ------------------------------------------------------------------
  // Versioned micro-batch artifacts (the StreamingGraph foreachBatch
  // idiom: `<dir>/<prefix>=N` slices, idempotent per batch id, pre-state
  // = the latest version BELOW the current id so a replayed batch
  // re-derives from the same pre-state — exactly-once without a
  // transactional store)
  // ------------------------------------------------------------------

  /** The numeric versions present under `dir` with the given layout
    * prefix (`v` or `batch`). Listed through the Hadoop FileSystem API,
    * so the same state dir works on local disk, HDFS, or an object
    * store — a directory listing only, never data-sized driver work.
    * Non-numeric siblings (`v=tmp` left by a human or a tool) are
    * SKIPPED, not fatal — one stray directory must not take down every
    * read of an otherwise healthy state dir.
    */
  def listVersions(spark: SparkSession, dir: String,
      prefix: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith(prefix + "=") =>
        s.drop(prefix.length + 1) }
      .flatMap(_.toLongOption)
  }

  /** A ledger is the degenerate versioned artifact: ONE long per batch
    * (a running base — next position, running token total). This is all
    * that crosses an at-ingest operator's single-writer tail; every
    * per-record computation stays distributed in the batch operator the
    * ledger parameterizes (`StreamingCorpus.ingestIcpBatch` etc.).
    *
    * Written through the Hadoop FS API, not a Spark job — one long is a
    * listing-sized metadata op (the `listVersions` discipline), and a
    * 1-row parquet job per micro-batch was a measurable share of the
    * harness's fixed cost at small batches (ledger-probe, round 12).
    * Commit protocol matches the parquet committer's: the `value` file
    * is fully written and closed BEFORE an explicit `_SUCCESS` marker,
    * so [[completedVersions]] (and [[readLedger]]'s torn-newest
    * fallback) see only committed values — object-store safe, no atomic
    * rename assumed.
    */
  def writeLedger(spark: SparkSession, dir: String, batchId: Long,
      value: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/v=$batchId")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    // a REPLAY overwrites this version: retract the marker before
    // touching the value file, so the rewrite window is torn-WITHOUT-
    // marker (readLedger falls back to the pre-state) rather than
    // torn-with-marker (a concurrent consumer could read a prefix)
    fs.delete(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(p, "value"), true)
    try out.write(java.lang.Long.toString(value).getBytes("UTF-8"))
    finally out.close()
    fs.create(new org.apache.hadoop.fs.Path(p, "_SUCCESS"), true).close()
  }

  /** The ledger value at the latest version strictly below `below` (or
    * the newest at all when `below` is None — the consumer-side read).
    * None before the first batch.
    *
    * Torn-newest safety: a crash mid-[[writeLedger]] leaves a `v=N`
    * directory with no committed data (no `_SUCCESS`). Only the NEWEST
    * version can be torn — every earlier batch committed before the
    * stream advanced — so this read takes the newest COMPLETE version
    * and IGNORES markerless directories outright: every writer (the old
    * parquet-job form via Spark's committer, the current raw-FS form
    * explicitly) commits a `_SUCCESS`, so a marker-free `v=N` can only
    * be a torn write, and parsing its `value` file could silently
    * return a flushed PREFIX of the real number ('4' of '42'). A torn
    * FIRST-ever write therefore reads as None — the pre-state — and the
    * replay rewrites it.
    *
    * Format migration: a state dir written before round 12 holds the
    * ledger as a 1-row parquet under `v=N` (no `value` file); that
    * shape is detected and read through a bounded Spark job. The next
    * [[writeLedger]] writes the raw-value format forward.
    */
  def readLedger(spark: SparkSession, dir: String,
      below: Option[Long] = None): Option[Long] = {
    val versions = listVersions(spark, dir, "v")
      .filter(v => below.forall(v < _))
      .sorted(Ordering[Long].reverse)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // newest-first with EARLY EXIT: the common case pays one marker
    // probe, not one per historical version (an unpruned ledger would
    // otherwise turn every read O(versions) in fs.exists calls)
    versions.find(v =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=$v/_SUCCESS")))
      .map { v =>
        val valuePath = new org.apache.hadoop.fs.Path(s"$dir/v=$v/value")
        if (fs.exists(valuePath)) {
          val in = fs.open(valuePath)
          val text =
            try new String(in.readAllBytes(), "UTF-8").trim
            finally in.close()
          text.toLongOption.getOrElse(sys.error(
            s"corrupt ledger value '$text' at $dir/v=$v"))
        } else {
          // legacy (pre-FS-ledger) layout: 1-row parquet, `value` column
          val rows = spark.read.parquet(s"$dir/v=$v")
            .select(col("value")).limit(2).collect()
          require(rows.length == 1,
            s"expected exactly one ledger row at legacy $dir/v=$v")
          rows.head.getLong(0)
        }
      }
  }

  /** The subset of [[listVersions]] whose parquet write completed
    * (`_SUCCESS` present) — what crash-sensitive readers must trust: a
    * compaction that died mid-write leaves a version directory whose
    * data is partial, and counting it would serve a torn artifact.
    */
  def completedVersions(spark: SparkSession, dir: String,
      prefix: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    listVersions(spark, dir, prefix).filter(v =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$prefix=$v/_SUCCESS")))
  }

  /** A versioned artifact under `dir`: the latest `v=N` with N below
    * `below` (exclusive), or an empty frame with the given schema before
    * the first version.
    *
    * `below = None` is the consumer read ("the current version, please")
    * and takes the newest COMPLETE version (`_SUCCESS` present), so a
    * read concurrent with a refresh never opens the version still being
    * written. A bound is the harness's own pre-state read, which keeps
    * the raw listing for the reason [[readSlices]] gives.
    */
  def readVersion(spark: SparkSession, dir: String, ddl: String,
      below: Option[Long]): DataFrame = {
    val versions = below match {
      case Some(b) => listVersions(spark, dir, "v").filter(_ < b)
      case None => completedVersions(spark, dir, "v")
    }
    versions.maxOption.fold(empty(spark, ddl))(v => spark.read.parquet(s"$dir/v=$v"))
  }

  private def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }

  /** Every standing row of a `batch=N` slice log: the newest COMPLETE
    * compacted base (if any) plus the slices ABOVE its version, with
    * the batch id as a long column; an empty frame with the given
    * schema before the first batch. Slices at or below the base
    * version are IGNORED even if still present — that is what makes
    * [[compactSlices]] crash-safe without atomic renames (the
    * write-base-then-delete window shows both, and this reader counts
    * each row once).
    *
    * Consistency contract: standing reads are consistent BETWEEN
    * micro-batches. A read issued concurrently with an in-flight (or
    * crashed-and-not-yet-replayed) latest batch can observe that
    * batch's torn slice — partial rows, or a read failure on partial
    * files — until the replay overwrites it. Consumer-facing readers
    * that must tolerate a concurrent writer pass
    * `completedOnly = true`, which filters live slices through
    * [[completedVersions]] (the torn newest slice has no `_SUCCESS`
    * and is skipped). The replay path keeps the raw listing — a
    * committer configured without success markers would otherwise see
    * an empty log.
    */
  def readSlices(spark: SparkSession, dir: String, ddl: String,
      completedOnly: Boolean = false): DataFrame = {
    val baseV = completedVersions(spark, s"${dir}_base", "v").maxOption
    val all =
      if (completedOnly) completedVersions(spark, dir, "batch")
      else listVersions(spark, dir, "batch")
    val live = all.filter(n => baseV.forall(n > _))
    val base = baseV.map(v => spark.read.parquet(s"${dir}_base/v=$v"))
    val slices =
      if (live.isEmpty) None
      else if (completedOnly)
        // read the complete slice dirs by path — a torn sibling's
        // partial files must not even be opened; basePath keeps the
        // batch=N partition column alive on leaf-dir reads
        Some(spark.read.option("basePath", dir)
          .parquet(live.map(n => s"$dir/batch=$n"): _*)
          .withColumn("batch", col("batch").cast("long")))
      else Some(spark.read.parquet(dir)
        .filter(col("batch") > baseV.getOrElse(Long.MinValue))
        .withColumn("batch", col("batch").cast("long")))
    (base, slices) match {
      case (Some(b), Some(s)) => b.unionByName(s)
      case (Some(b), None) => b
      case (None, Some(s)) => s
      case (None, None) => empty(spark, ddl)
    }
  }

  /** Compact a `batch=N` slice log: fold every slice with id ≤ `upTo`
    * (and any prior base) into one `<dir>_base/v=upTo` slice, then
    * delete the folded slices and superseded bases — the log-compaction
    * moment for long-running ingest, where one directory per
    * micro-batch is correct but unbounded (at ~10^5 batches the file
    * LISTING becomes the read cost — the classic small-files failure).
    *
    * Replay safety: structured streaming replays at most the LATEST
    * batch id after a crash; earlier ids never re-fire once a later
    * batch has committed. `upTo` must therefore stay strictly below the
    * newest slice id (enforced loudly), so an overwrite-on-replay can
    * never target a compacted-away slice.
    *
    * Crash safety: the new base is FULLY written (with `_SUCCESS`)
    * before anything is deleted, and [[readSlices]] ignores slices at
    * or below the newest complete base — a crash anywhere in the
    * sequence leaves a readable, non-double-counting layout, and
    * re-running compaction cleans the leftovers (idempotent).
    */
  def compactSlices(spark: SparkSession, dir: String, upTo: Long,
      ddl: String): Unit = {
    val slices = listVersions(spark, dir, "batch")
    val newest = slices.maxOption.getOrElse(
      sys.error(s"no batch slices under $dir — nothing to compact"))
    require(upTo < newest,
      s"compactSlices(upTo = $upTo) must stay strictly below the newest " +
        s"slice id $newest — the latest batch may replay and must keep " +
        s"its own overwritable slice")
    val baseV = completedVersions(spark, s"${dir}_base", "v").maxOption
    if (baseV.forall(upTo > _)) {
      // fold base ∪ slices (base, upTo] into the new base
      readSlices(spark, dir, ddl)
        .filter(col("batch") <= upTo)
        .write.mode("overwrite").parquet(s"${dir}_base/v=$upTo")
    }
    // the whole crash-safety argument hinges on the fold having COMMITTED
    // (_SUCCESS present) — a committer configured with
    // mapreduce.fileoutputcommitter.marksuccessfuljobs=false writes no
    // marker, readSlices would never recognize the new base, and deleting
    // the folded slices below would silently drop every folded row. Fail
    // loudly BEFORE any delete instead.
    val baseAfter = completedVersions(spark, s"${dir}_base", "v").maxOption
    require(baseAfter.exists(_ >= upTo),
      s"no COMPLETE compacted base at or above v=$upTo under ${dir}_base " +
        s"after the fold write — the parquet job committed no _SUCCESS " +
        s"marker (mapreduce.fileoutputcommitter.marksuccessfuljobs=false?); " +
        s"refusing to delete the slices the base was meant to cover")
    // cleanup is separate from (and ordered after) the base write so a
    // re-run after any crash converges to the same layout
    val keep = baseAfter.get
    slices.filter(_ <= keep)
      .foreach(n => deleteDir(spark, s"$dir/batch=$n"))
    completedVersions(spark, s"${dir}_base", "v").filter(_ < keep)
      .foreach(v => deleteDir(spark, s"${dir}_base/v=$v"))
  }

  /** The compaction POLICY for `foreachBatch` harnesses — maintenance as
    * part of ingest, not an offline chore someone must remember: every
    * `compactEvery` batches (0 = off), fold each slice log up to
    * `batchId - 1` (the newest slice stays replayable — [[compactSlices]]'
    * own contract) and prune each versioned artifact to its newest two
    * versions (latest + the replay pre-state). Idempotent under replay:
    * a re-fired batch re-runs the same fold (already-folded slices are
    * gone, the base already sits at `batchId - 1`, nothing changes) and
    * the prune is trivially re-runnable. Without this, a long-running
    * harness degrades exactly as the compaction probe measures — the
    * standing read diverges with the slice count (the small-files
    * listing cost), and ledger reads pay an ever-growing version
    * listing.
    */
  def maybeCompact(spark: SparkSession, batchId: Long, compactEvery: Int,
      sliceDirs: Seq[(String, String)], versionDirs: Seq[String]): Unit = {
    require(compactEvery >= 0, s"need compactEvery >= 0, got $compactEvery")
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
      sliceDirs.foreach { case (dir, ddl) =>
        compactSlices(spark, dir, upTo = batchId - 1, ddl) }
      versionDirs.foreach(dir => pruneVersions(spark, dir))
    }
  }

  /** Keep only the newest `keep` versions of a `v=N` artifact (ledgers,
    * standing-state frames) — the state-side companion of
    * [[compactSlices]]. `keep` defaults to 2: a replayed LAST batch
    * reads its pre-state from the version strictly below its id
    * ([[readLedger]] `below`), so the newest version alone is not
    * enough, and anything older can never be read again.
    */
  def pruneVersions(spark: SparkSession, dir: String, keep: Int = 2): Unit = {
    require(keep >= 2,
      s"need keep >= 2 (latest + the replay pre-state), got $keep")
    listVersions(spark, dir, "v").sorted.dropRight(keep)
      .foreach(v => deleteDir(spark, s"$dir/v=$v"))
  }

  // ------------------------------------------------------------------
  // Novelty gram inventory — distributed-only (column `_nvG`)
  // ------------------------------------------------------------------

  def saveNoveltyInventory(inv: DataFrame, path: String): Unit =
    inv.select(col("_nvG")).write.mode("overwrite").parquet(path)

  def loadNoveltyInventory(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("_nvG"))

  // ------------------------------------------------------------------
  // Matched pair graph ([[graft.operators.Graph.mutualBestMatching]]
  // output: node_a, node_b, score — node-sized, each node in ≤ 1 row)
  // ------------------------------------------------------------------

  /** The pair graph anchors the standing in-context order
    * ([[graft.operators.Corpus.icpOrder]]); persisting it is what lets
    * ingest workers attach arriving docs to the SAME order across
    * restarts (`StreamingCorpus.icpAttachAtIngest`). Distributed-only,
    * like the novelty inventory: it is corpus-sized/2 at worst, so it
    * has no collected form.
    */
  def savePairGraph(pairs: DataFrame, path: String): Unit =
    pairs.select(col("node_a"), col("node_b"), col("score"))
      .write.mode("overwrite").parquet(path)

  def loadPairGraph(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("node_a"), col("node_b"), col("score"))

  // ------------------------------------------------------------------
  // Fuzzy (gram, occ) → frequency rarity map
  // ([[graft.operators.Dedup.gramRarityTable]] output: g, occ, gdf)
  // ------------------------------------------------------------------

  def saveGramRarity(table: DataFrame, path: String): Unit =
    table.select(col("g"), col("occ"), col("gdf"))
      .write.mode("overwrite").parquet(path)

  /** Driver map for [[graft.streaming.StreamingDedup.fuzzyMatchAtIngest]] —
    * vocabulary-sized by construction (alphabet^q × within-string
    * repeats), but the ceiling makes that a checked invariant.
    */
  def collectGramRarity(table: DataFrame,
      ceiling: Int = 10000000): Map[(String, Int), Long] =
    boundedCollect(table.select(col("g"), col("occ"), col("gdf")),
      ceiling, "fuzzy gram-rarity map")
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

  def loadGramRarity(spark: SparkSession, path: String,
      ceiling: Int = 10000000): Map[(String, Int), Long] =
    collectGramRarity(spark.read.parquet(path), ceiling)

  // ------------------------------------------------------------------
  // Jaccard gram-hash → corpus df map
  // ([[graft.operators.Dedup.shingleDfTable]] output: gram, df)
  // ------------------------------------------------------------------

  def saveShingleDf(table: DataFrame, path: String): Unit =
    table.select(col("gram"), col("df"))
      .write.mode("overwrite").parquet(path)

  /** Driver map for [[graft.streaming.StreamingDedup.jaccardMatchAtIngest]].
    * Completeness survives head-capping (absent grams tie at df 0 under
    * the frozen total order), so a corpus whose FULL df table overflows
    * the ceiling should persist its most frequent `ceiling` rows rather
    * than raise it — cap BEFORE saving; this loader refuses, it does not
    * silently truncate.
    */
  def collectShingleDf(table: DataFrame,
      ceiling: Int = 10000000): Map[Long, Long] =
    boundedCollect(table.select(col("gram"), col("df")),
      ceiling, "jaccard shingle-df map")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  def loadShingleDf(spark: SparkSession, path: String,
      ceiling: Int = 10000000): Map[Long, Long] =
    collectShingleDf(spark.read.parquet(path), ceiling)

  // ------------------------------------------------------------------
  // Bloom blobs (decontamination / novelty door filters — header-carrying
  // bitsets from [[graft.functions.Bloom]])
  // ------------------------------------------------------------------

  /** One-row parquet: the blob IS the artifact (numBits/8 bytes by
    * construction, so no ceiling is needed here — the BUILDERS refuse
    * past their byte ceilings; a persisted blob is already bounded).
    */
  def saveBloomBlob(blob: Array[Byte], path: String,
      spark: SparkSession): Unit = {
    import spark.implicits._
    Seq(Tuple1(blob)).toDF("blob")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadBloomBlob(spark: SparkSession, path: String): Array[Byte] = {
    val rows = spark.read.parquet(path).select(col("blob")).limit(2).collect()
    require(rows.length == 1, s"expected exactly one blob row at $path")
    rows.head.getAs[Array[Byte]](0)
  }

  // ------------------------------------------------------------------
  // Cosine inventory ([[graft.streaming.StreamingSearch.CosineInventory]])
  // ------------------------------------------------------------------

  /** Layout: `path/meta` one row (n, shingle_n, max_df); `path/grams` one
    * row per posting (g, rarity, old_id, w, norm2-as-string — norm² is a
    * BigInt, exact at any document length); `path/dropped` one row per
    * boilerplate gram hash.
    */
  def saveCosineInventory(inv: CosineInventory, path: String,
      spark: SparkSession): Unit = {
    import spark.implicits._
    Seq((inv.n, inv.shingleN, inv.maxDf))
      .toDF("n", "shingle_n", "max_df")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    inv.grams.toSeq.flatMap { case (g, (ir, posts)) =>
      posts.map(p => (g, ir, p.oldId, p.w, p.norm2.toString))
    }.toDF("g", "rarity", "old_id", "w", "norm2")
      .write.mode("overwrite").parquet(s"$path/grams")
    inv.dropped.toSeq.toDF("g")
      .write.mode("overwrite").parquet(s"$path/dropped")
  }

  def loadCosineInventory(spark: SparkSession, path: String,
      ceiling: Int = 10000000): CosineInventory = {
    import spark.implicits._
    val (n, shingleN, maxDf) = spark.read.parquet(s"$path/meta")
      .select(col("n"), col("shingle_n"), col("max_df"))
      .as[(Long, Int, Int)].head()
    val posts = boundedCollect(
      spark.read.parquet(s"$path/grams")
        .select(col("g"), col("rarity"), col("old_id"), col("w"), col("norm2")),
      ceiling, "cosine inventory postings")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        BigInt(r.getString(4))))
    val grams = posts.groupBy(_._1).map { case (g, rows) =>
      g -> (rows.head._2,
        rows.toSeq.sortBy(_._3).map(r => Posting(r._3, r._4, r._5)))
    }
    val dropped = boundedCollect(
      spark.read.parquet(s"$path/dropped").select(col("g")),
      ceiling, "cosine inventory dropped-gram set")
      .map(_.getLong(0)).toSet
    CosineInventory(n, shingleN, maxDf, grams, dropped)
  }
}
