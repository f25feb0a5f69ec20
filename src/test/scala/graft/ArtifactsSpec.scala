package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.state.Artifacts
import graft.streaming.StreamingSearch

/** The door-check artifact family contract ([[graft.state.Artifacts]]):
  * every frozen artifact parquet-round-trips exactly (load ≡ trained, so
  * the stream≡batch pins survive a persistence hop), and every driver-side
  * materialization refuses loudly at its ceiling instead of OOMing.
  */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("novelty inventory round-trips; loaded artifact reproduces the report exactly") {
    val corpus = Seq((1L, "a b c d e"), (2L, "x y z")).toDF("doc_id", "text")
    val batch = Seq((10L, "a b c"), (11L, "new stuff here")).toDF("doc_id", "text")
    val path = tmp("graft_art_nov") + "/inv"
    Artifacts.saveNoveltyInventory(
      Dedup.noveltyInventory(corpus, "text", 3), path)
    val loaded = Artifacts.loadNoveltyInventory(spark, path)
    assert(loaded.as[Long].collect().toSet ===
      Dedup.noveltyInventory(corpus, "text", 3).as[Long].collect().toSet)
    val fresh = Dedup.noveltyReport(batch, corpus, "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    val viaLoaded = Dedup.noveltyReportAgainst(batch, loaded, "doc_id", "text", 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaLoaded === fresh)
  }

  test("pair graph round-trips; loaded artifact anchors the same in-context order") {
    import graft.operators.Corpus
    val docs = (1L to 12L).toDF("doc_id")
    // mutualBestMatching-shaped pairs: node_a < node_b, each node once
    val pairs = Seq((2L, 7L, 9L), (3L, 11L, 5L), (6L, 10L, 5L))
      .toDF("node_a", "node_b", "score")
    val path = tmp("graft_art_pg") + "/pairs"
    Artifacts.savePairGraph(pairs, path)
    val loaded = Artifacts.loadPairGraph(spark, path)
    assert(loaded.as[(Long, Long, Long)].collect().toSet ===
      pairs.as[(Long, Long, Long)].collect().toSet)
    val fresh = Corpus.icpOrder(docs, "doc_id", pairs)
      .as[(Long, Long, Long)].collect().toSet
    val viaLoaded = Corpus.icpOrder(docs, "doc_id", loaded)
      .as[(Long, Long, Long)].collect().toSet
    assert(viaLoaded === fresh)
    // order sanity: matched pairs sit adjacently, anchor first
    val pos = fresh.map(r => r._1 -> r._3).toMap
    for ((a, b, _) <- Seq((2L, 7L, 9L), (3L, 11L, 5L), (6L, 10L, 5L)))
      assert(pos(b) === pos(a) + 1, s"pair ($a,$b) must pack adjacently")
    assert(pos.values.toSeq.sorted === (1L to 12L))
  }

  test("fuzzy gram-rarity map round-trips; ceiling refuses loudly") {
    val train = Seq("kitten", "mitten", "sitting", "ab").toDF("name")
    val table = Dedup.gramRarityTable(train, "name", q = 2)
    val trained = Artifacts.collectGramRarity(table)
    assert(trained.nonEmpty)
    val path = tmp("graft_art_fuzzy") + "/rarity"
    Artifacts.saveGramRarity(table, path)
    assert(Artifacts.loadGramRarity(spark, path) === trained)
    val e = intercept[IllegalArgumentException] {
      Artifacts.collectGramRarity(table, ceiling = 1)
    }
    assert(e.getMessage.contains("ceiling"))
  }

  test("jaccard shingle-df map round-trips; ceiling refuses loudly") {
    val docs = Seq((1L, "red fish blue fish"), (2L, "blue fish green bird"))
      .toDF("doc_id", "text")
    val table = Dedup.shingleDfTable(docs, "doc_id", "text", shingleN = 2)
    val trained = Artifacts.collectShingleDf(table)
    assert(trained.nonEmpty && trained.values.exists(_ > 1L))
    val path = tmp("graft_art_jacc") + "/df"
    Artifacts.saveShingleDf(table, path)
    assert(Artifacts.loadShingleDf(spark, path) === trained)
    val e = intercept[IllegalArgumentException] {
      Artifacts.collectShingleDf(table, ceiling = 1)
    }
    assert(e.getMessage.contains("ceiling"))
  }

  test("bloom blob round-trips byte-exactly; loader refuses a corrupt multi-row artifact") {
    val corpus = Seq((1L, "a b c d e"), (2L, "x y z")).toDF("doc_id", "text")
    val blob = graft.streaming.StreamingDedup.buildNoveltyBloom(
      corpus, "doc_id", "text", shingleN = 3)
    val path = tmp("graft_art_bloom") + "/blob"
    Artifacts.saveBloomBlob(blob, path, spark)
    val loaded = Artifacts.loadBloomBlob(spark, path)
    assert(java.util.Arrays.equals(loaded, blob))
    // a loaded blob scores identically to the freshly-built one
    val probe = Seq((9L, "a b c"), (10L, "never seen")).toDF("doc_id", "text")
    def scores(b: Array[Byte]) = graft.streaming.StreamingDedup
      .noveltyAtIngestBloom(probe, "doc_id", "text", 3, b)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(scores(loaded) === scores(blob))
    // refuse a corrupt (two-row) artifact instead of picking one silently
    Seq(Tuple1(blob), Tuple1(blob)).toDF("blob")
      .write.mode("overwrite").parquet(path + "2")
    val e = intercept[IllegalArgumentException] {
      Artifacts.loadBloomBlob(spark, path + "2")
    }
    assert(e.getMessage.contains("exactly one"))
  }

  test("cosine inventory round-trips field-exactly; loaded artifact matches identically; build ceiling refuses") {
    val corpus = Seq(
      (10L, "red fish blue fish red fish"),
      (11L, "red fish blue fish green bird"),
      (12L, "filler filler filler filler"),
      (13L, "filler filler filler extra"),
      (14L, "filler filler filler beyond"),
      (15L, "filler filler filler cap")).toDF("doc_id", "text")
    val inv = StreamingSearch.buildCosineInventory(
      corpus, "doc_id", "text", shingleN = 2, maxDf = 3)
    assert(inv.dropped.nonEmpty, "expect a boilerplate-capped gram")
    val path = tmp("graft_art_cos")
    Artifacts.saveCosineInventory(inv, path, spark)
    val loaded = Artifacts.loadCosineInventory(spark, path)
    assert(loaded.n === inv.n)
    assert(loaded.shingleN === inv.shingleN)
    assert(loaded.maxDf === inv.maxDf)
    assert(loaded.dropped === inv.dropped)
    assert(loaded.grams === inv.grams)
    val probe = Seq((1L, "red fish blue fish"), (2L, "nothing seen here"))
      .toDF("doc_id", "text")
    def matches(i: StreamingSearch.CosineInventory) =
      StreamingSearch.cosineMatchAtIngest(probe, "doc_id", "text", i, 3, 10)
        .collect().map(m => (m.new_id, m.old_id)).toSet
    assert(matches(loaded) === matches(inv))
    assert(matches(inv).nonEmpty, "probe must actually match the corpus")
    val e = intercept[IllegalArgumentException] {
      StreamingSearch.buildCosineInventory(
        corpus, "doc_id", "text", shingleN = 2, maxDf = 3, ceiling = 1)
    }
    assert(e.getMessage.contains("ceiling"))
  }

  test("slice compaction: standing rows identical, crash window never double-counts, replay slice protected") {
    val ddl = "k BIGINT, v BIGINT, batch BIGINT"
    def slice(dir: String, n: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("k", "v").write.mode("overwrite").parquet(s"$dir/batch=$n")
    def standing(dir: String) = Artifacts.readSlices(spark, dir, ddl)
      .as[(Long, Long, Long)].collect().toSet

    val dir = tmp("graft_compact") + "/slots"
    // empty log reads as an empty frame with the declared schema
    assert(standing(dir).isEmpty)
    slice(dir, 0, Seq((1L, 10L), (2L, 20L)))
    slice(dir, 1, Seq((3L, 30L)))
    slice(dir, 2, Seq((4L, 40L)))
    val before = standing(dir)
    assert(before === Set((1L, 10L, 0L), (2L, 20L, 0L), (3L, 30L, 1L), (4L, 40L, 2L)))

    // compacting at/above the newest slice refuses — the latest batch
    // may replay and must keep its own overwritable slice
    val guard = intercept[IllegalArgumentException] {
      Artifacts.compactSlices(spark, dir, upTo = 2, ddl = ddl)
    }
    assert(guard.getMessage.contains("strictly below"))

    Artifacts.compactSlices(spark, dir, upTo = 1, ddl = ddl)
    assert(standing(dir) === before,
      "compaction must preserve the standing rows bit-for-bit")
    assert(Artifacts.listVersions(spark, dir, "batch") === Seq(2L),
      "folded slices must be deleted, the replayable one kept")
    assert(Artifacts.completedVersions(spark, s"${dir}_base", "v") === Seq(1L))

    // crash window: a stale slice AT the base version reappears (the
    // delete never ran) — the reader must ignore it, not double-count
    slice(dir, 1, Seq((3L, 30L)))
    assert(standing(dir) === before,
      "a stale slice at/below the base version must not double-count")
    // re-running compaction (same upTo) converges: cleans the leftover
    Artifacts.compactSlices(spark, dir, upTo = 1, ddl = ddl)
    assert(Artifacts.listVersions(spark, dir, "batch") === Seq(2L))
    assert(standing(dir) === before)

    // an INCOMPLETE base (no _SUCCESS) is invisible to readers
    val p = new org.apache.hadoop.fs.Path(s"${dir}_base/v=5/_torn.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p.getParent)
    assert(Artifacts.completedVersions(spark, s"${dir}_base", "v") === Seq(1L))
    assert(standing(dir) === before)
    fs.delete(p.getParent, true)

    // second-level compaction folds the existing base with newer slices
    slice(dir, 3, Seq((5L, 50L)))
    Artifacts.compactSlices(spark, dir, upTo = 2, ddl = ddl)
    assert(standing(dir) === before + ((5L, 50L, 3L)))
    assert(Artifacts.listVersions(spark, dir, "batch") === Seq(3L))
    assert(Artifacts.completedVersions(spark, s"${dir}_base", "v") === Seq(2L),
      "superseded bases must be deleted")
  }

  test("ledgered harness on an empty micro-batch: no slots, ledger carries the base forward") {
    // rare but real (a trigger can fire with nothing to read): the
    // batch operator runs on zero rows, the slice is empty-but-present,
    // and the ledger advances by zero — the next batch's base is intact
    import graft.streaming.StreamingCorpus
    val state = tmp("graft_empty_batch") + "/state"
    val empty = Seq.empty[(Long, Long, Long)].toDF("doc_id", "pos", "n_tok")
    StreamingCorpus.packAppendAtIngest(state, seqLen = 64,
      baseOffset = 1000L)(empty, 0L)
    assert(StreamingCorpus.standingPackSlots(spark, state).count() === 0L)
    assert(Artifacts.readLedger(spark, s"$state/ledger") === Some(1000L))
    StreamingCorpus.packAppendAtIngest(state, seqLen = 64,
      baseOffset = 1000L)(Seq((7L, 1L, 30L)).toDF("doc_id", "pos", "n_tok"), 1L)
    assert(StreamingCorpus.standingPackSlots(spark, state)
      .select("doc_id", "global_start").as[(Long, Long)].collect().toSeq
      === Seq((7L, 1000L)),
      "the batch after an empty one must continue from the carried base")
  }

  test("state-dir hardening: stray names skipped, torn newest ledger falls back, markerless compaction refuses before deleting, completedOnly hides torn slices") {
    val fs = new org.apache.hadoop.fs.Path(tmp("graft_hard"))
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mkdir(p: String): Unit = { fs.mkdirs(new org.apache.hadoop.fs.Path(p)); () }

    // a stray non-numeric version directory (v=tmp left by a human or a
    // tool) is skipped, not a NumberFormatException on every read
    val led = tmp("graft_hard_led") + "/ledger"
    Artifacts.writeLedger(spark, led, 0L, 42L)
    mkdir(s"$led/v=tmp")
    assert(Artifacts.listVersions(spark, led, "v") === Seq(0L))
    assert(Artifacts.readLedger(spark, led) === Some(42L))

    // torn newest ledger version (crash mid-writeLedger: directory, no
    // committed data): the consumer read falls back to the newest
    // COMPLETE version instead of failing until replay
    Artifacts.writeLedger(spark, led, 1L, 43L)
    mkdir(s"$led/v=2")
    assert(Artifacts.readLedger(spark, led) === Some(43L))
    // ...and the replay pre-state read is unaffected
    assert(Artifacts.readLedger(spark, led, below = Some(1L)) === Some(42L))
    // a MARKED version with a corrupt value fails loudly rather than
    // misreading (the toLongOption guard behind the _SUCCESS protocol)
    val vp = new org.apache.hadoop.fs.Path(s"$led/v=3/value")
    fs.mkdirs(vp.getParent)
    val o = fs.create(vp, true); o.write("12x".getBytes("UTF-8")); o.close()
    fs.create(new org.apache.hadoop.fs.Path(s"$led/v=3/_SUCCESS"), true).close()
    val corrupt = intercept[RuntimeException] { Artifacts.readLedger(spark, led) }
    assert(corrupt.getMessage.contains("corrupt ledger"))
    fs.delete(vp.getParent, true)

    // torn FIRST-ever write (single version, no marker): the pre-state is
    // None — a markerless value file could be a flushed PREFIX of the
    // real number ('4' of '42') and must never be parsed
    val led2 = tmp("graft_hard_led2") + "/ledger"
    mkdir(s"$led2/v=0")
    val tp = fs.create(new org.apache.hadoop.fs.Path(s"$led2/v=0/value"), true)
    tp.write("4".getBytes("UTF-8")); tp.close() // torn prefix of '42'
    assert(Artifacts.readLedger(spark, led2) === None,
      "a markerless-only ledger version must read as the pre-state")

    // markerless committer (marksuccessfuljobs=false): compaction must
    // refuse BEFORE deleting — readSlices would never recognize the new
    // base and every folded row would silently vanish
    val ddl = "k BIGINT, v BIGINT, batch BIGINT"
    val dir = tmp("graft_hard_cmp") + "/slots"
    Seq((1L, 10L)).toDF("k", "v").write.parquet(s"$dir/batch=0")
    Seq((2L, 20L)).toDF("k", "v").write.parquet(s"$dir/batch=1")
    val before = Artifacts.readSlices(spark, dir, ddl)
      .as[(Long, Long, Long)].collect().toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    try {
      val e = intercept[IllegalArgumentException] {
        Artifacts.compactSlices(spark, dir, upTo = 0L, ddl = ddl)
      }
      assert(e.getMessage.contains("_SUCCESS"))
    } finally hconf.unset("mapreduce.fileoutputcommitter.marksuccessfuljobs")
    assert(Artifacts.listVersions(spark, dir, "batch").sorted === Seq(0L, 1L),
      "a refused compaction must leave every slice in place")
    assert(Artifacts.readSlices(spark, dir, ddl)
      .as[(Long, Long, Long)].collect().toSet === before)
    // with markers restored the same call converges
    Artifacts.compactSlices(spark, dir, upTo = 0L, ddl = ddl)
    assert(Artifacts.readSlices(spark, dir, ddl)
      .as[(Long, Long, Long)].collect().toSet === before)

    // completedOnly: a torn in-flight slice (partial file, no _SUCCESS)
    // is invisible to consumer-facing standing reads
    val tornFile = new org.apache.hadoop.fs.Path(s"$dir/batch=7/part-00000.parquet")
    fs.mkdirs(tornFile.getParent)
    fs.create(tornFile).close() // zero bytes: not even a parquet footer
    assert(Artifacts.readSlices(spark, dir, ddl, completedOnly = true)
      .as[(Long, Long, Long)].collect().toSet === before,
      "a torn live slice must not be opened by a completedOnly read")
    fs.delete(tornFile.getParent, true)
  }

  test("ledger/version pruning keeps the replay pre-state readable") {
    val dir = tmp("graft_prune") + "/ledger"
    (0L to 5L).foreach(v => Artifacts.writeLedger(spark, dir, v, 100L + v))
    Artifacts.pruneVersions(spark, dir)
    assert(Artifacts.listVersions(spark, dir, "v").sorted === Seq(4L, 5L))
    // the consumer read and the replayed-last-batch pre-state both work
    assert(Artifacts.readLedger(spark, dir) === Some(105L))
    assert(Artifacts.readLedger(spark, dir, below = Some(5L)) === Some(104L))
    val e = intercept[IllegalArgumentException] {
      Artifacts.pruneVersions(spark, dir, keep = 1)
    }
    assert(e.getMessage.contains("keep >= 2"))
  }
}
