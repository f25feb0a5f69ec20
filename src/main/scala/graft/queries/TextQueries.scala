package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis._
import graft.plans.Materialize
import graft.queries.Tables.t

/** Text-analysis queries over the `documents` table — the LLM-pipeline
  * operators (language ID, quality scoring, token counting, document
  * fingerprinting). Spark exprs and oracle SQL both render from
  * [[graft.functions.TextAnalysis]] so the two engines cannot drift.
  */
object TextQueries {

  val all: Seq[Q] = Seq(

    Q("q_token_count", Some(
      s"SELECT doc_id, ${tokenCountWsSql("text")} AS ws_tokens, " +
      s"${tokenCountBpeSql("text")} AS bpe_tokens FROM documents"))(
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        tokenCountWs(col("text")).as("ws_tokens"),
        tokenCountBpe(col("text")).as("bpe_tokens"))),

    Q("q_text_quality", Some(
      s"SELECT doc_id, ${punctRatioSql("text")} AS punct_ratio, " +
      s"${alphaRatioSql("text")} AS alpha_ratio, " +
      s"${stopwordRatioSql("text")} AS stopword_ratio, " +
      s"${qualityScoreSql("text")} AS quality FROM documents"))(
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        punctRatio(col("text")).as("punct_ratio"),
        alphaRatio(col("text")).as("alpha_ratio"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        qualityScore(col("text")).as("quality"))),

    // reproducible export sharding: deterministic shard + within-shard
    // sequence from the portable key hash — byte-stable corpus layout
    // (one hash shuffle + per-shard sort; no global sort)
    Q("q_export_shards", Some("""
      |SELECT doc_id,
      |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8 AS shard,
      |  CAST(row_number() OVER (
      |    PARTITION BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
      |    ORDER BY doc_id) AS INT) AS seq
      |FROM documents
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.exportShards(
        t(s, d, "documents").select("doc_id"), col("doc_id"), numShards = 8)),

    // seeded deterministic global shuffle (training order): position is a
    // pure function of (seed, doc_id) — reproducible across runs and
    // cluster sizes, re-permuted by changing the seed (per-epoch orders).
    // Same (shard, seq) layout as q_export_shards; per-shard sort only.
    Q("q_shuffle", Some("""
      |SELECT doc_id, h % 8 AS shard,
      |  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT) AS seq
      |FROM (SELECT doc_id,
      |  ('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents)
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.shuffleShards(
        t(s, d, "documents").select("doc_id"), col("doc_id"),
        seed = 7, numShards = 8)),

    // deterministic weighted round-robin mixture order: src0 at weight 3,
    // every other source at 1 — a consumer reading by (ord, source, dense)
    // sees the 3:1 mix from the first rows. dense per-source numbering is
    // the scale-safe two-level form (shard-major), mirrored exactly by
    // the oracle's window.
    Q("q_interleave", Some("""
      |WITH s AS (SELECT doc_id, source,
      |  ('0x' || substring(md5('5:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents),
      |d AS (SELECT doc_id, source, CAST(row_number() OVER (
      |    PARTITION BY source ORDER BY h % 4, h, doc_id) AS BIGINT) AS dense FROM s)
      |SELECT doc_id, source, dense,
      |  ((dense - 1) * 3) // (CASE WHEN source = 'src0' THEN 3 ELSE 1 END) AS ord
      |FROM d
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.interleaveBySource(
        t(s, d, "documents").select("doc_id", "source"),
        "source", col("doc_id"), weights = Map("src0" -> 3L),
        defaultWeight = 1L, seed = 5, numShards = 4)
        .select("doc_id", "source", "dense", "ord")),

    // portable histogram-quantile artifact: fixed-bound integer bucket
    // table (mergeable by cell sum, like the CMS/HLL artifacts), median
    // threshold per lang = lower bound of the first bucket reaching
    // ceil(n/2) — pure integer arithmetic, conservative within one bucket
    // width. The oracle-able scale twin of exact percentile /
    // approx_percentile's opaque t-digest.
    Q("q_hist_quantile", Some("""
      |WITH h AS (SELECT lang, least(greatest((n_chars - 0) // 8, 0), 127) AS bucket,
      |    count(*) AS cnt
      |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      |c AS (SELECT lang, bucket, cnt, sum(cnt) OVER (PARTITION BY lang ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
      |t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1)
      |SELECT c.lang, t.n, min(c.bucket) AS bucket, 0 + min(c.bucket) * 8 AS thr
      |FROM c JOIN t USING (lang) WHERE c.cum * 2 >= t.n * 1
      |GROUP BY c.lang, t.n
      |""".stripMargin.trim))(
      (s, d) => graft.functions.Sketches.histogramThreshold(
        graft.functions.Sketches.histogramFixed(
          t(s, d, "documents"), col("n_chars"), lo = 0, width = 8,
          buckets = 128, strata = Seq("lang")),
        pNum = 1, pDen = 2, lo = 0, width = 8, strata = Seq("lang"))),

    // EXACT per-group order statistic — the element itself, not a bucket
    // (contrast q_hist_quantile): iterative histogram bisection, one scan
    // per refinement round, per-round shuffle is (group, bucket) rows only.
    // kth = smallest v with count(<= v) >= k, k = ceil(n/2) (lower median).
    Q("q_exact_median", Some("""
      |WITH o AS (SELECT lang, n_chars,
      |    count(*) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
      |    count(*) OVER (PARTITION BY lang) AS nn
      |  FROM documents WHERE n_chars IS NOT NULL)
      |SELECT lang, nn AS n, (nn + 1) // 2 AS k, min(n_chars) AS kth
      |FROM o WHERE cum >= (nn + 1) // 2 GROUP BY lang, nn
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Selection.exactKthByGroup(
        t(s, d, "documents"), Seq("lang"), col("n_chars"), num = 1, den = 2)),

    // exact p99 on two-column strata — multi-round refinement at a rank
    // where bucket-granular answers are off by whole buckets
    Q("q_exact_p99", Some("""
      |WITH o AS (SELECT lang, source, n_chars,
      |    count(*) OVER (PARTITION BY lang, source ORDER BY n_chars) AS cum,
      |    count(*) OVER (PARTITION BY lang, source) AS nn
      |  FROM documents WHERE n_chars IS NOT NULL)
      |SELECT lang, source, nn AS n, (nn * 99 + 99) // 100 AS k,
      |  min(n_chars) AS kth
      |FROM o WHERE cum >= (nn * 99 + 99) // 100 GROUP BY lang, source, nn
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Selection.exactKthByGroup(
        t(s, d, "documents"), Seq("lang", "source"), col("n_chars"),
        num = 99, den = 100)),

    // weighted exact selection: the doc length below which half the
    // corpus CHARACTERS sit (value = weight = n_chars) — the data-card
    // cut a row-count median misstates under skewed lengths. DuckDB
    // sum(BIGINT) widens to HUGEINT → cast the emitted totals.
    Q("q_exact_wmedian", Some("""
      |WITH o AS (SELECT source, n_chars,
      |    sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars) AS cumw,
      |    sum(n_chars) OVER (PARTITION BY source) AS ww
      |  FROM documents WHERE n_chars IS NOT NULL)
      |SELECT source, CAST(ww AS BIGINT) AS w,
      |  CAST((ww + 1) // 2 AS BIGINT) AS k, min(n_chars) AS kth
      |FROM o WHERE cumw >= (ww + 1) // 2 GROUP BY source, ww
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Selection.exactWeightedKthByGroup(
        t(s, d, "documents"), Seq("source"), col("n_chars"),
        col("n_chars"), num = 1, den = 2)),

    // global concat-and-split packing (GPT-style): the shuffled corpus as
    // ONE token stream split into 2048-token training sequences, documents
    // crossing boundaries. Offsets are a distributed prefix sum over the
    // shuffleShards order (per-shard window + numShards-row base table) —
    // no global sort. n_chars stands in for the per-doc token count.
    Q("q_pack_global", Some("""
      |WITH s AS (SELECT doc_id, n_chars,
      |  ('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents),
      |sh AS (SELECT doc_id, n_chars, h, h % 8 AS shard,
      |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS seq FROM s),
      |loc AS (SELECT doc_id, n_chars, shard, seq,
      |  COALESCE(sum(n_chars) OVER (PARTITION BY shard ORDER BY seq
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
      |  FROM sh),
      |b AS (SELECT shard, COALESCE(sum(tot) OVER (ORDER BY shard
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
      |  FROM (SELECT shard, sum(n_chars) AS tot FROM sh GROUP BY 1))
      |SELECT l.doc_id, l.shard, CAST(l.seq AS INT) AS seq, l.n_chars,
      |  CAST(b.base + l.l AS BIGINT) AS global_start,
      |  CAST((b.base + l.l) // 2048 AS BIGINT) AS first_seq,
      |  CAST(CASE WHEN l.n_chars = 0 THEN (b.base + l.l) // 2048
      |       ELSE (b.base + l.l + l.n_chars - 1) // 2048 END AS BIGINT) AS last_seq
      |FROM loc l JOIN b USING (shard)
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.packGlobal(
        t(s, d, "documents").select("doc_id", "n_chars"),
        col("doc_id"), col("n_chars"), seed = 7, numShards = 8,
        seqLen = 2048)
        .select("doc_id", "shard", "seq", "n_chars", "global_start",
          "first_seq", "last_seq")),

    // the writer-side explode of the same layout: per-(doc, sequence)
    // spans — group by seq_id and each 2048-token training row assembles
    // from (offset_in_seq, span_start, span_tokens). One narrow explode.
    Q("q_pack_spans", Some("""
      |WITH s AS (SELECT doc_id, n_chars,
      |  ('0x' || substring(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM documents),
      |sh AS (SELECT doc_id, n_chars, h, h % 8 AS shard,
      |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS seq FROM s),
      |loc AS (SELECT doc_id, n_chars, shard, seq,
      |  COALESCE(sum(n_chars) OVER (PARTITION BY shard ORDER BY seq
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
      |  FROM sh),
      |b AS (SELECT shard, COALESCE(sum(tot) OVER (ORDER BY shard
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
      |  FROM (SELECT shard, sum(n_chars) AS tot FROM sh GROUP BY 1)),
      |pg AS (SELECT l.doc_id, l.n_chars, CAST(b.base + l.l AS BIGINT) AS gs,
      |    CAST((b.base + l.l) // 2048 AS BIGINT) AS fs,
      |    CAST((b.base + l.l + l.n_chars - 1) // 2048 AS BIGINT) AS ls
      |  FROM loc l JOIN b USING (shard) WHERE l.n_chars > 0)
      |SELECT doc_id, seq_id,
      |  greatest(0, seq_id * 2048 - gs) AS span_start,
      |  least(n_chars, (seq_id + 1) * 2048 - gs) - greatest(0, seq_id * 2048 - gs) AS span_tokens,
      |  greatest(0, gs - seq_id * 2048) AS offset_in_seq
      |FROM pg, unnest(range(fs, ls + 1)) AS u(seq_id)
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.packGlobalSpans(
        graft.operators.Corpus.packGlobal(
          t(s, d, "documents").select("doc_id", "n_chars"),
          col("doc_id"), col("n_chars"), seed = 7, numShards = 8,
          seqLen = 2048),
        col("n_chars"), seqLen = 2048)
        .select("doc_id", "seq_id", "span_start", "span_tokens",
          "offset_in_seq")),

    // relative quality gate: keep each source's top half by quality score
    // (per-stratum exact percentile threshold joined back — no corpus
    // sort; see Corpus.percentileGate). quantile_cont == Spark percentile
    // bit-for-bit, so the gate itself is hash-oracled.
    Q("q_quality_gate", Some(s"""
      |WITH s AS (SELECT doc_id, source, ${qualityScoreSql("text")} AS q FROM documents),
      |th AS (SELECT source, quantile_cont(q, 0.5) AS thr FROM s GROUP BY source)
      |SELECT s.doc_id, s.source, s.q FROM s JOIN th USING (source) WHERE s.q >= thr
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.percentileGate(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          qualityScore(col("text")).as("q")),
        Seq("source"), col("q"), 0.5)),

    Q("q_lang_id", Some(
      s"SELECT doc_id, lang, ${langIdSql("text")} AS pred_lang, " +
      s"(${langIdSql("text")} = lang) AS is_correct FROM documents"))(
      (s, d) => t(s, d, "documents").select(
        col("doc_id"), col("lang"),
        langId(col("text")).as("pred_lang"),
        (langId(col("text")) === col("lang")).as("is_correct"))),

    Q("q_fingerprint", Some(
      s"SELECT doc_id, ${fingerprintSql("text")} AS fp FROM documents"))(
      (s, d) => t(s, d, "documents").select(
        col("doc_id"), fingerprint(col("text")).as("fp"))),

    // winnowing fingerprints (MOSS): per doc the selected (min-hash,
    // position) set over 8-char grams, window 10 — any shared substring
    // of >= 17 chars yields a shared fingerprint at ~2/11 density. The
    // whole selection is narrow array arithmetic (zero shuffle); the
    // oracle replays hash, window minima, and leftmost tie-break, with
    // relational DISTINCT standing in for the engine's array_distinct.
    Q("q_winnow", Some(
      s"""WITH ex AS (SELECT doc_id, unnest(${winnowSql("text", 8, 10)}) AS u
         |  FROM documents)
         |SELECT DISTINCT doc_id, u.fp AS fp, u.pos AS pos FROM ex
         |""".stripMargin.trim))(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          explode(winnow(col("text"), 8, 10)).as("_wu"))
        .select(col("doc_id"), col("_wu.fp").as("fp"), col("_wu.pos").as("pos"))),

    // rare-token share — corpus-frequency quality gate (the portable
    // unigram-LM filter): per doc, the fraction of tokens whose corpus
    // document frequency is under 1/10 of the corpus size. The threshold
    // is corpus-relative, so the same query is discriminative at every sf.
    Q("q_rare_tokens", Some(
      """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |  FROM documents),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tk GROUP BY tok)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN d.df * 10 < n.n_docs THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  floor(CAST(sum(CASE WHEN d.df * 10 < n.n_docs THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 1e6 + 0.5) / 1e6 AS rare_share
        |FROM tk t JOIN df d USING (tok) CROSS JOIN n
        |GROUP BY t.doc_id""".stripMargin))(
      (s, d) => graft.operators.Corpus.rareTokenStats(
        t(s, d, "documents"), "doc_id", "text", rareDen = 10)),

    // snapshot diff between two derived releases of the corpus (old drops
    // ids ≡ 0 mod 10; new drops ids ≡ 0 mod 7 and appends ' v2' to ids
    // ≡ 0 mod 5): the added/removed/changed/same audit both engines
    // derive identically. Digest-only full-outer join — text never
    // crosses the shuffle.
    Q("q_corpus_diff", Some("""
      |WITH old AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 != 0),
      |new AS (SELECT doc_id,
      |  md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 7 != 0)
      |SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
      |  CASE WHEN old.h IS NULL THEN 'added'
      |       WHEN new.h IS NULL THEN 'removed'
      |       WHEN old.h != new.h THEN 'changed'
      |       ELSE 'same' END AS status
      |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
      |""".stripMargin.trim))(
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Corpus.snapshotDiff(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 7 =!= 0)
            .withColumn("text", when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text"))),
          "doc_id", "text")
      }),

    // smoothed-bigram-LM corpus typicality (the perplexity-filter shape,
    // exact-arithmetic variant): integer count sums + ONE double division
    // per doc — bit-identical in both engines. Gram-keyed equi-join, never
    // doc×doc; (N, V) is a 1-row broadcast.
    Q("q_lm_typicality", Some("""
      |WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |st AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 1, 0))) AS i FROM tk),
      |occ AS (SELECT doc_id, toks[i + 1] || ' ' || toks[i + 2] AS g FROM st),
      |c AS (SELECT g, count(*) AS c FROM occ GROUP BY g),
      |gl AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v_distinct FROM c),
      |pd AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(c.c) AS BIGINT) AS sum_c
      |  FROM occ JOIN c USING (g) GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
      |  CASE WHEN pd.n_bigrams > 0 THEN
      |    CAST(pd.sum_c + pd.n_bigrams AS DOUBLE)
      |      / CAST(pd.n_bigrams * (gl.n_total + gl.v_distinct) AS DOUBLE) END AS typicality
      |FROM documents d LEFT JOIN pd USING (doc_id) CROSS JOIN gl
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.bigramTypicality(
        t(s, d, "documents"), "doc_id", "text")),

    // CCNet-style head/middle/tail partition: per-LANGUAGE typicality
    // quartile cuts (0.25/0.75 — binary-exact fractions, interpolation
    // bit-identical cross-engine), every doc labeled by its bucket.
    // One histogram-sized cut artifact joined back; no corpus sort.
    Q("q_ppl_buckets", Some("""
      |WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
      |st AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks) - 1, 0))) AS i FROM tk),
      |occ AS (SELECT doc_id, toks[i + 1] || ' ' || toks[i + 2] AS g FROM st),
      |c AS (SELECT g, count(*) AS c FROM occ GROUP BY g),
      |gl AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v_distinct FROM c),
      |pd AS (SELECT doc_id, count(*) AS n_bigrams, CAST(sum(c.c) AS BIGINT) AS sum_c
      |  FROM occ JOIN c USING (g) GROUP BY doc_id),
      |typ AS (SELECT d.doc_id, d.lang,
      |  CASE WHEN pd.n_bigrams > 0 THEN
      |    CAST(pd.sum_c + pd.n_bigrams AS DOUBLE)
      |      / CAST(pd.n_bigrams * (gl.n_total + gl.v_distinct) AS DOUBLE) END AS typicality
      |  FROM documents d LEFT JOIN pd USING (doc_id) CROSS JOIN gl),
      |cuts AS (SELECT lang, quantile_cont(typicality, 0.25) AS lo,
      |  quantile_cont(typicality, 0.75) AS hi FROM typ GROUP BY lang)
      |SELECT t.doc_id, t.lang, t.typicality,
      |  CASE WHEN t.typicality IS NULL THEN NULL
      |       WHEN t.typicality >= c.hi THEN 'head'
      |       WHEN t.typicality >= c.lo THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM typ t JOIN cuts c USING (lang)
      |""".stripMargin.trim))(
      (s, d) => {
        val docs = t(s, d, "documents")
        val typ = graft.operators.Corpus.bigramTypicality(docs, "doc_id", "text")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        graft.operators.Corpus.scoreBuckets(
            typ, Seq("lang"), col("typicality"))
          .select(col("doc_id"), col("lang"), col("typicality"), col("bucket"))
      }),

    // PII redaction — the release gate on any shared corpus. The synthetic
    // documents carry no real PII, so the query derives a deterministic
    // contact line per doc IN BOTH ENGINES (same concat, same doc_id
    // rendering), then scrubs it: masked text plus per-kind match counts
    // come back bit-identical. Two narrow regexp passes, no shuffle —
    // scrubbing pipelines into the scan at any corpus size.
    Q("q_pii_scrub", Some(
      "WITH w AS (SELECT doc_id, " +
      "concat(text, ' contact user', doc_id, '@mail.example.org or +1-555-', doc_id) AS t " +
      "FROM documents) " +
      s"SELECT doc_id, len(regexp_extract_all(t, '$emailPattern')) AS n_emails, " +
      s"len(regexp_extract_all(t, '$phonePattern')) AS n_phones, " +
      s"${scrubPiiSql("t")} AS scrubbed FROM w"))(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@mail.example.org or +1-555-"), col("doc_id")).as("t"))
        .select(col("doc_id"),
          countMatches(col("t"), emailPattern).as("n_emails"),
          countMatches(col("t"), phonePattern).as("n_phones"),
          scrubPii(col("t")).as("scrubbed"))),

    // unicode text normalization (the ingest-canonicalization pass): each
    // doc messied with a deterministic combining-accent + ligature +
    // control-char + whitespace tail, then cleaned by the codegen'd
    // normalize_text. DuckDB mirrors the identical recipe step for step
    // (nfc_normalize implements the same UAX #15), so the output —
    // composed accents included — hash-matches. chr(769)=U+0301 combining
    // acute, chr(64257)=U+FB01 fi-ligature (NFC-invariant), chr(1)=C0.
    Q("q_normalize", Some("""
      |WITH m AS (SELECT doc_id,
      |  '  ' || text || chr(9) || chr(9) || 'e' || chr(769) || ' ' ||
      |  chr(1) || chr(64257) || 'n  ' AS messy FROM documents)
      |SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(nfc_normalize(messy),
      |    '[ \t\n\f\r]+', ' ', 'g'),
      |    '[\x00-\x08\x0E-\x1F\x7F-\x9F\x{200B}\x{FEFF}]', '', 'g')) AS norm
      |FROM m
      |""".stripMargin.trim))(
      (s, d) => t(s, d, "documents")
        .withColumn("messy", concat(lit("  "), col("text"),
          lit("\t\te\u0301 \u0001\uFB01n  ")))
        .select(col("doc_id"),
          call_function("normalize_text", col("messy")).as("norm"))),

    // corpus rollup: one partial-agg shuffle over (lang, source)
    Q("q_doc_stats", Some(
      "SELECT lang, source, count(*) AS n_docs, " +
      "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
      "CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars, " +
      "min(doc_id) AS min_id, max(doc_id) AS max_id " +
      "FROM documents GROUP BY lang, source"))(
      (s, d) => t(s, d, "documents")
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("total_chars"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"),
          min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))),

    // the composed training-data pipeline: language gate → quality floor →
    // fingerprint dedup (first id wins) → per-source corpus stats. One
    // narrow filter pass, one dedup shuffle, one agg shuffle.
    Q("q_doc_pipeline", Some(
      s"""WITH clean AS (SELECT doc_id, source, text FROM documents
         |  WHERE ${langIdSql("text")} = 'en' AND ${qualityScoreSql("text")} >= 0.5),
         |dedup AS (SELECT doc_id, source, text FROM (
         |  SELECT doc_id, source, text, row_number() OVER (
         |    PARTITION BY ${fingerprintSql("text")} ORDER BY doc_id) AS rn FROM clean)
         |  WHERE rn = 1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(${tokenCountWsSql("text")}) AS BIGINT) AS total_tokens
         |FROM dedup GROUP BY source""".stripMargin))(
      (s, d) => {
        val clean = t(s, d, "documents")
          .filter(langId(col("text")) === "en" && qualityScore(col("text")) >= 0.5)
          .withColumn("fp", fingerprint(col("text")))
        graft.state.Upserts.firstByKey(clean, Seq("fp"), Seq(col("doc_id")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(tokenCountWs(col("text"))).as("total_tokens"))
      }),

    // context-window chunking: 8-token windows, 2-token overlap (stride 6).
    // One narrow explode — chunk identity verified by digest.
    Q("q_chunk", Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        |c AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 1), 6)) AS s FROM tk)
        |SELECT doc_id, CAST(s // 6 AS INT) AS chunk_no,
        |  CAST(least(8, len(t) - s) AS INT) AS chunk_tokens,
        |  md5(array_to_string(t[s + 1 : s + 8], ' ')) AS chunk_md5
        |FROM c""".stripMargin))(
      (s, d) => graft.operators.Corpus.chunk(
        t(s, d, "documents"), "doc_id", "text", chunkTokens = 8, overlapTokens = 2)),

    // chunk-level dedup — the modern pretraining shape: chunk every doc,
    // dedup by chunk digest across the whole corpus (the first (doc,
    // chunk) keeps each distinct window). Explode + one partial-agg
    // shuffle on the digest.
    Q("q_chunk_dedup", Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        |c AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 1), 6)) AS s FROM tk),
        |ch AS (SELECT doc_id, CAST(s // 6 AS INT) AS chunk_no,
        |  md5(array_to_string(t[s + 1 : s + 8], ' ')) AS chunk_md5 FROM c)
        |SELECT chunk_md5, count(*) AS n_copies,
        |  min(doc_id) AS keep_doc,
        |  min_by(chunk_no, doc_id * 1000000 + chunk_no) AS keep_chunk
        |FROM ch GROUP BY chunk_md5""".stripMargin))(
      (s, d) => graft.operators.Corpus.chunk(
          t(s, d, "documents"), "doc_id", "text", chunkTokens = 8, overlapTokens = 2)
        .groupBy("chunk_md5")
        .agg(
          count(lit(1)).as("n_copies"),
          min("doc_id").as("keep_doc"),
          // composite scalar (docs have ≪ 10^6 chunks) — DuckDB's min_by
          // has no struct-ordered overload
          min_by(col("chunk_no"), col("doc_id") * 1000000 + col("chunk_no")).as("keep_chunk"))),

    // Gopher-style repetition/boilerplate gates: top-bigram share and
    // duplicate-trigram fraction per doc. Two explode+agg passes, no
    // cross-doc state.
    Q("q_repetition", Some("""
      |WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
      |bg AS (SELECT doc_id, array_to_string(t[i : i + 1], ' ') AS g
      |  FROM tk, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
      |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      |bstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |  CAST(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS DOUBLE) AS top_bigram_frac
      |  FROM bgc GROUP BY 1),
      |tg AS (SELECT doc_id, array_to_string(t[i : i + 2], ' ') AS g
      |  FROM tk, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)),
      |tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
      |tstat AS (SELECT doc_id,
      |  CAST(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) /
      |       CAST(sum(c) AS DOUBLE) AS DOUBLE) AS dup_trigram_frac
      |  FROM tgc GROUP BY 1)
      |SELECT d.doc_id, b.n_bigrams, b.top_bigram_frac, t.dup_trigram_frac
      |FROM documents d
      |LEFT JOIN bstat b ON b.doc_id = d.doc_id
      |LEFT JOIN tstat t ON t.doc_id = d.doc_id
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.repetitionStats(
        t(s, d, "documents"), "doc_id", "text")),

    // train/test contamination: test docs (source src0) sharing any
    // distinct 8-gram with the train corpus (every other source), with the
    // count of shared grams. Distinct-gram reduction on both sides, then
    // one equi-join on the gram.
    Q("q_contamination", Some("""
      |WITH tk AS (SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id, source, array_to_string(t[i : i + 7], ' ') AS g
      |  FROM tk, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)),
      |test AS (SELECT doc_id, g FROM g WHERE source = 'src0'),
      |train AS (SELECT DISTINCT g FROM g WHERE source <> 'src0')
      |SELECT doc_id, count(*) AS n_shared
      |FROM test JOIN train USING (g)
      |GROUP BY doc_id
      |""".stripMargin.trim))(
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Corpus.contamination(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          "doc_id", "text", n = 8)
      }),

    // bloom-gated contamination: the benchmark (src0) collapses to ONE
    // 8192-bit bloom (k=4, FP-dense by design — the oracle must reproduce every deterministic false positive) and every train doc counts its grams the blob
    // claims. False positives are DETERMINISTIC (md5 double hashing, the
    // cms lane scheme), so the oracle reproduces the identical bitset from
    // the same positions and the whole report — FPs included — hash-matches.
    Q("q_bloom_decontaminate", Some("""
      |WITH tk AS (SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id, source, array_to_string(t[i : i + 7], ' ') AS g
      |  FROM tk, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)),
      |testg AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
      |pos AS (SELECT DISTINCT CAST((
      |    ('0x' || substring(md5(g), 1, 15))::BIGINT::HUGEINT +
      |    i * ('0x' || substring(md5(g), 16, 15))::BIGINT::HUGEINT) % 8192 AS BIGINT) AS p
      |  FROM testg, unnest(range(0, 4)) AS v(i)),
      |traing AS (SELECT DISTINCT doc_id, g FROM g WHERE source <> 'src0'),
      |hit AS (
      |  SELECT l.doc_id, l.g
      |  FROM (SELECT doc_id, g, CAST((
      |      ('0x' || substring(md5(g), 1, 15))::BIGINT::HUGEINT +
      |      i * ('0x' || substring(md5(g), 16, 15))::BIGINT::HUGEINT) % 8192 AS BIGINT) AS p
      |    FROM traing, unnest(range(0, 4)) AS v(i)) l
      |  JOIN pos USING (p)
      |  GROUP BY l.doc_id, l.g
      |  HAVING count(*) = 4)
      |SELECT doc_id, count(*) AS n_flagged FROM hit GROUP BY doc_id
      |""".stripMargin.trim))(
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Corpus.bloomContamination(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") =!= "src0"),
          "doc_id", "text", n = 8, numBits = 8192, k = 4)
      }),

    // deterministic 1-in-5 hash sample: membership is a pure function of
    // doc_id (auditable, engine-portable), not a random draw.
    Q("q_sample_hash", Some(
      "SELECT doc_id, lang FROM documents " +
      "WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 < 1"))(
      (s, d) => graft.operators.Corpus.sampleByHash(
        t(s, d, "documents"), col("doc_id"), num = 1, den = 5)
        .select("doc_id", "lang")),

    // PPS weighted sample (~100 expected docs, weight = n_chars): bigger
    // docs proportionally likelier; ht_weight is the Horvitz–Thompson
    // inverse of the REALIZED inclusion probability ceil(min(e*w,W)*M/W)/M
    // over the FULL 60-bit md5 hash space (M = 2^60). Spark runs the test
    // in exact decimal(38,0); the oracle mirrors it in HUGEINT — both
    // exact, so membership is bit-identical; ht_weight is ONE double
    // division of two exact integers (correctly rounded, portable).
    Q("q_sample_pps", Some("""
      |WITH tot AS (SELECT sum(n_chars) AS w FROM documents)
      |SELECT doc_id, n_chars,
      |  CAST(1152921504606846976 AS DOUBLE) /
      |    CAST((least(100::HUGEINT * n_chars, w::HUGEINT) * 1152921504606846976 + w - 1) // w
      |         AS DOUBLE) AS ht_weight
      |FROM documents, tot
      |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::HUGEINT * w
      |      < least(100::HUGEINT * n_chars, w::HUGEINT) * 1152921504606846976
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.samplePps(
        t(s, d, "documents"), col("doc_id"), col("n_chars"), expected = 100)
        .select("doc_id", "n_chars", "ht_weight")),

    // DSIR importance resampling (Xie et al. 2023): resample the raw
    // corpus (source <> 'src0') toward the target distribution (src0).
    // Hashed-bigram bucket counts → add-one-smoothed scaled integer
    // target/raw ratios → per-doc ratio-sum weight → exact-decimal PPS
    // membership over the full 2^60 hash space. Every step is integer/
    // decimal arithmetic (md5 buckets, floor division), so DuckDB
    // reproduces membership, ds_weight AND ht_weight bit-for-bit.
    Q("q_dsir", Some("""
      |WITH tk AS (SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
      |g AS (SELECT doc_id, source,
      |    ('0x' || substring(md5(array_to_string(t[i : i + 1], ' ')), 1, 15))::BIGINT % 65536 AS b
      |  FROM tk, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
      |tc AS (SELECT b, count(*) AS tc FROM g WHERE source = 'src0' GROUP BY 1),
      |rc AS (SELECT b, count(*) AS rc FROM g WHERE source <> 'src0' GROUP BY 1),
      |r AS (SELECT b, ((coalesce(tc, 0) + 1) * 1048576) // (rc + 1) AS r
      |  FROM rc LEFT JOIN tc USING (b)),
      |w AS (SELECT doc_id, greatest(1, sum(r)) AS ds_weight
      |  FROM (SELECT doc_id, b FROM g WHERE source <> 'src0') rg JOIN r USING (b)
      |  GROUP BY 1),
      |wt AS (SELECT d.doc_id, CAST(coalesce(w.ds_weight, 1) AS BIGINT) AS ds_weight
      |  FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d LEFT JOIN w USING (doc_id)),
      |tot AS (SELECT sum(ds_weight) AS w FROM wt)
      |SELECT doc_id, ds_weight,
      |  CAST(1152921504606846976 AS DOUBLE) /
      |    CAST((least(50::HUGEINT * ds_weight, w::HUGEINT) * 1152921504606846976 + w - 1) // w
      |         AS DOUBLE) AS ht_weight
      |FROM wt, tot
      |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT::HUGEINT * w
      |      < least(50::HUGEINT * ds_weight, w::HUGEINT) * 1152921504606846976
      |""".stripMargin.trim))(
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Corpus.dsirResample(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", expected = 50)
          .select("doc_id", "ds_weight", "ht_weight")
      }),

    // deterministic train/val/test split: 80/10/10 by doc_id hash range —
    // membership is a pure function of the key, so the split survives
    // reprocessing and corpus growth (no row ever migrates)
    Q("q_split", Some("""
      |SELECT doc_id, CAST(CASE WHEN h < 800 THEN 0 WHEN h < 900 THEN 1 ELSE 2 END AS INT) AS split
      |FROM (SELECT doc_id,
      |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS h
      |  FROM documents)
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.assignSplits(
        t(s, d, "documents"), col("doc_id"), Seq(800, 100, 100))
        .select("doc_id", "split")),

    // leakage-aware variant: split by a GROUP key (here the source — the
    // domain-keyed pattern), so an entire document family lands in one
    // split and near-dup leakage across train/test is structurally
    // impossible; the dedup-component form is splitByComponent (spec)
    Q("q_split_group", Some("""
      |SELECT doc_id, source, CAST(CASE WHEN h < 900 THEN 0 ELSE 1 END AS INT) AS split
      |FROM (SELECT doc_id, source,
      |  ('0x' || substring(md5(source), 1, 15))::BIGINT % 1000 AS h
      |  FROM documents)
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.assignSplits(
        t(s, d, "documents"), col("source"), Seq(900, 100))
        .select("doc_id", "source", "split")),

    // per-source robust length outliers: lower-median / MAD gate, every
    // column an exact integer order statistic (an element of the data),
    // strictly-outside-3-MADs predicate cross-multiplied — the quality
    // screen that does not move with the outliers it hunts.
    Q("q_mad_outliers", Some("""
      |WITH v AS (SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY len) AS rn,
      |             count(*) OVER (PARTITION BY source) AS cnt FROM v),
      |med AS (SELECT source, len AS med FROM r WHERE rn = (cnt + 1) // 2),
      |d AS (SELECT v.doc_id, v.source, v.len, med.med, abs(v.len - med.med) AS dev
      |      FROM v JOIN med USING (source)),
      |r2 AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY dev) AS rn,
      |              count(*) OVER (PARTITION BY source) AS cnt FROM d),
      |mad AS (SELECT source, dev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
      |SELECT d.doc_id, d.source, d.len, d.med, mad.mad
      |FROM d JOIN mad USING (source) WHERE d.dev * 1 > mad.mad * 3
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.madOutliers(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("len")),
        "source", col("len"), num = 3, den = 1)),

    // per-document top-5 TF-IDF keywords: quantized integer rarity
    // (length(bin(N div df)) = 1+floor(log2(N/df)), log-free), score =
    // tf * ir exact BIGINT, term-string tie-break — top-k via the
    // bounded topk_agg heap, never a posting-list window sort.
    Q("q_keywords", Some("""
      |WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |nn AS (SELECT count(*) AS n FROM documents),
      |r AS (SELECT term, CAST(length(bin((SELECT n FROM nn) // count(*))) AS BIGINT) AS ir
      |  FROM tf GROUP BY term),
      |s AS (SELECT tf.doc_id, tf.term, tf.tf * r.ir AS score
      |  FROM tf JOIN r USING (term))
      |SELECT doc_id, CAST(rk AS BIGINT) AS rank, term, CAST(score AS BIGINT) AS score
      |FROM (SELECT doc_id, term, score,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      |      FROM s)
      |WHERE rk <= 5
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Search.keywordsTfIdf(
        t(s, d, "documents"), "doc_id", "text", k = 5)),

    // all-pairs TF-IDF cosine similarity join (Bayardo WWW'07 inverted-
    // index shape): every doc pair with quantized-integer-idf cosine
    // >= 2/5 over word trigrams, df-capped at 6. Quantized idf
    // 1+floor(log2(N div df)) = length(bin(..)) — log-free, both engines
    // bit-agree; predicate cross-multiplied in decimal(38,0)/HUGEINT.
    Q("q_cosine_pairs", Some("""
      |WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents),
      |sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |  ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS s FROM toks),
      |ex AS (SELECT doc_id, ('0x' || substring(md5(unnest(s)), 1, 15))::BIGINT AS g FROM sh),
      |tf AS (SELECT doc_id, g, count(*) AS tf FROM ex GROUP BY 1, 2),
      |nn AS (SELECT count(*) AS n FROM documents),
      |dft AS (SELECT g, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 6),
      |wt AS (SELECT t.doc_id, t.g, t.tf * length(bin((SELECT n FROM nn) // d.df)) AS w
      |       FROM tf t JOIN dft d USING (g)),
      |nrm AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM wt GROUP BY 1),
      |dt AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(CAST(a.w AS HUGEINT) * b.w) AS dot
      |       FROM wt a JOIN wt b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
      |  CAST(na.n2 AS BIGINT) AS norm_a2, CAST(nb.n2 AS BIGINT) AS norm_b2
      |FROM dt JOIN nrm na ON na.doc_id = dt.id_a JOIN nrm nb ON nb.doc_id = dt.id_b
      |WHERE 25 * dot * dot >= 4 * na.n2 * nb.n2
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Search.cosinePairs(
        t(s, d, "documents"), "doc_id", "text",
        shingleN = 3, minSimNum = 2, minSimDen = 5, maxDf = 6)),

    // incremental cosine: the % 10 "new batch" scored against the corpus
    // inventory — weights from CORPUS statistics (unseen grams take the
    // max rarity and dilute; corpus-boilerplate grams df > 6 drop on both
    // sides). Directed new→old, batch-linear against the standing
    // capped-bucket artifact.
    Q("q_cosine_incremental", Some("""
      |WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents),
      |sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
      |  ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS s FROM toks),
      |ex AS (SELECT doc_id, ('0x' || substring(md5(unnest(s)), 1, 15))::BIGINT AS g FROM sh),
      |tfn AS (SELECT doc_id, g, count(*) AS tf FROM ex WHERE doc_id % 10 = 0 GROUP BY 1, 2),
      |tfo AS (SELECT doc_id, g, count(*) AS tf FROM ex WHERE doc_id % 10 != 0 GROUP BY 1, 2),
      |nn AS (SELECT count(*) AS n FROM documents WHERE doc_id % 10 != 0),
      |dft AS (SELECT g, count(*) AS df FROM tfo GROUP BY 1),
      |wtn AS (SELECT t.doc_id, t.g,
      |          t.tf * coalesce(length(bin((SELECT n FROM nn) // d.df)),
      |                          length(bin((SELECT n FROM nn)))) AS w
      |        FROM tfn t LEFT JOIN dft d USING (g) WHERE coalesce(d.df, 0) <= 6),
      |wto AS (SELECT t.doc_id, t.g, t.tf * length(bin((SELECT n FROM nn) // d.df)) AS w
      |        FROM tfo t JOIN dft d USING (g) WHERE d.df <= 6),
      |nrmn AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM wtn GROUP BY 1),
      |nrmo AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM wto GROUP BY 1),
      |dt AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id, sum(CAST(a.w AS HUGEINT) * b.w) AS dot
      |       FROM wtn a JOIN wto b ON a.g = b.g GROUP BY 1, 2)
      |SELECT new_id, old_id, CAST(dot AS BIGINT) AS dot,
      |  CAST(na.n2 AS BIGINT) AS norm_new2, CAST(nb.n2 AS BIGINT) AS norm_old2
      |FROM dt JOIN nrmn na ON na.doc_id = dt.new_id JOIN nrmo nb ON nb.doc_id = dt.old_id
      |WHERE 25 * dot * dot >= 4 * na.n2 * nb.n2
      |""".stripMargin.trim))(
      (s, d) => {
        val docs = t(s, d, "documents")
        graft.operators.Search.cosinePairsAgainst(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", shingleN = 3, minSimNum = 2, minSimDen = 5,
          maxDf = 6)
      }),

    // BM25 lexical search (log-free rational idf — ln() is not bit-portable
    // across libm implementations): top-20 docs for a 3-term query. Scores
    // sum per-term in a fixed order; every input is an exact integer, so
    // the double arithmetic is bit-identical in both engines.
    Q("q_bm25_topk", Some("""
      |WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tk FROM documents),
      |len AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |tf AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN tk = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf_join,
      |    CAST(sum(CASE WHEN tk = 'shuffle' THEN 1 ELSE 0 END) AS BIGINT) AS tf_shuffle,
      |    CAST(sum(CASE WHEN tk = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf_window
      |  FROM tok GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avglen FROM len),
      |df AS (SELECT
      |    CAST(count(DISTINCT CASE WHEN tk = 'join' THEN doc_id END) AS BIGINT) AS df_join,
      |    CAST(count(DISTINCT CASE WHEN tk = 'shuffle' THEN doc_id END) AS BIGINT) AS df_shuffle,
      |    CAST(count(DISTINCT CASE WHEN tk = 'window' THEN doc_id END) AS BIGINT) AS df_window
      |  FROM tok)
      |SELECT doc_id, score FROM (
      |  SELECT l.doc_id,
      |    ((CAST(n AS DOUBLE) - df_join + 0.5) / (df_join + 0.5)) *
      |      ((tf_join * CAST(2.2 AS DOUBLE)) / (tf_join + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avglen)))) +
      |    ((CAST(n AS DOUBLE) - df_shuffle + 0.5) / (df_shuffle + 0.5)) *
      |      ((tf_shuffle * CAST(2.2 AS DOUBLE)) / (tf_shuffle + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avglen)))) +
      |    ((CAST(n AS DOUBLE) - df_window + 0.5) / (df_window + 0.5)) *
      |      ((tf_window * CAST(2.2 AS DOUBLE)) / (tf_window + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avglen)))) AS score
      |  FROM len l JOIN tf USING (doc_id), stats, df)
      |ORDER BY score DESC, doc_id LIMIT 20
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Search.bm25TopK(
        t(s, d, "documents"), "doc_id", "text",
        terms = Seq("join", "shuffle", "window"), k = 20)),

    // hybrid retrieval: BM25 top-50 pool ∪ cosine-KNN top-50 pool (query =
    // vector 0), fused by reciprocal-rank fusion (1/(60+rank) per side).
    // Rank-space fusion needs no score normalization and keeps the
    // arithmetic bit-portable, so the oracle pins the exact fused order;
    // both pools are bounded by construction, so the fusion join is
    // k-row work at any corpus scale. Output: integer ranks (NULL where a
    // side missed the doc), exact compare.
    Q("q_hybrid_rrf", Some("""
      |WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tk FROM documents),
      |len AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |tf AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN tk = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf_join,
      |    CAST(sum(CASE WHEN tk = 'shuffle' THEN 1 ELSE 0 END) AS BIGINT) AS tf_shuffle,
      |    CAST(sum(CASE WHEN tk = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf_window
      |  FROM tok GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avglen FROM len),
      |dfx AS (SELECT
      |    CAST(count(DISTINCT CASE WHEN tk = 'join' THEN doc_id END) AS BIGINT) AS df_join,
      |    CAST(count(DISTINCT CASE WHEN tk = 'shuffle' THEN doc_id END) AS BIGINT) AS df_shuffle,
      |    CAST(count(DISTINCT CASE WHEN tk = 'window' THEN doc_id END) AS BIGINT) AS df_window
      |  FROM tok),
      |sc AS (
      |  SELECT l.doc_id,
      |    ((CAST(n AS DOUBLE) - df_join + 0.5) / (df_join + 0.5)) *
      |      ((tf_join * CAST(2.2 AS DOUBLE)) / (tf_join + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avglen)))) +
      |    ((CAST(n AS DOUBLE) - df_shuffle + 0.5) / (df_shuffle + 0.5)) *
      |      ((tf_shuffle * CAST(2.2 AS DOUBLE)) / (tf_shuffle + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avglen)))) +
      |    ((CAST(n AS DOUBLE) - df_window + 0.5) / (df_window + 0.5)) *
      |      ((tf_window * CAST(2.2 AS DOUBLE)) / (tf_window + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / avglen)))) AS score
      |  FROM len l JOIN tf USING (doc_id), stats, dfx),
      |lex AS (SELECT doc_id, r FROM (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM sc)
      |  WHERE r <= 50),
      |e AS (SELECT vec_id, embedding,
      |  sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |vs AS (SELECT c.vec_id AS doc_id,
      |  list_sum(list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
      |    / (q.nrm * c.nrm) AS score
      |  FROM e q JOIN e c ON c.vec_id <> q.vec_id WHERE q.vec_id = 0),
      |vec AS (SELECT doc_id, r FROM (
      |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM vs)
      |  WHERE r <= 50),
      |f AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
      |  lex.r AS lex_rank, vec.r AS vec_rank,
      |  coalesce(CAST(1 AS DOUBLE) / (60 + lex.r), CAST(0 AS DOUBLE)) +
      |  coalesce(CAST(1 AS DOUBLE) / (60 + vec.r), CAST(0 AS DOUBLE)) AS s
      |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
      |SELECT doc_id, fused_rank, lex_rank, vec_rank FROM (
      |  SELECT doc_id, lex_rank, vec_rank,
      |    row_number() OVER (ORDER BY s DESC, doc_id) AS fused_rank FROM f)
      |WHERE fused_rank <= 20
      |""".stripMargin.trim))(
      (s, d) => {
        val docs = t(s, d, "documents")
        val lex = graft.operators.Search.bm25TopK(docs, "doc_id", "text",
            terms = Seq("join", "shuffle", "window"), k = 50)
          .select(col("doc_id"), row_number().over(
            // 50-row top-k pool: bounded single-partition sort;
            // Hints.onePartition keeps the spec non-empty (no warning)
            org.apache.spark.sql.expressions.Window
              .partitionBy(graft.plans.Hints.onePartition(col("doc_id")))
              .orderBy(col("score").desc, col("doc_id"))).as("rank"))
        val emb = t(s, d, "embeddings")
        val vec = graft.operators.Similarity.bruteForceKnn(
            emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        graft.operators.Search.rrfFuse(lex, vec, "doc_id", k = 20)
          .withColumnRenamed("a_rank", "lex_rank")
          .withColumnRenamed("b_rank", "vec_rank")
      }),

    // corpus vocabulary top-k (tokenizer-training stats): one explode, one
    // count shuffle, then the bounded topk_agg — 25 rows cross the final
    // exchange, not the vocabulary.
    Q("q_vocab_topk", Some("""
      |WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token FROM documents),
      |cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY 1)
      |SELECT token, n FROM (
      |  SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM cnt)
      |WHERE rk <= 25
      |""".stripMargin.trim))(
      (s, d) => {
        val counts = t(s, d, "documents")
          .select(explode(split(lower(col("text")), "\\s+")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
        graft.operators.Similarity.topKPerKey(counts, Nil,
            struct((-col("n")).as("nn"), col("token").as("tk")), 25)
          .select(explode(col("topk")).as("t"))
          .select(col("t.tk").as("token"), (-col("t.nn")).as("n"))
      }),

    // frequency-of-frequencies (Good–Turing / Zipf diagnostics): how
    // many distinct types occur exactly f times, f = 1..10 + one tail
    // row whose n_tokens keeps the TRUE frequencies, so the report sums
    // to the corpus exactly. Two partial-agg shuffles, the second over
    // vocabulary-sized rows into ≤ 11 cells. All exact integers.
    Q("q_vocab_fof", Some("""
      |WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS t FROM documents),
      |v AS (SELECT t, count(*) AS f FROM tok WHERE len(t) > 0 GROUP BY 1)
      |SELECT CASE WHEN f <= 10 THEN f ELSE 11 END AS f,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(sum(f) AS BIGINT) AS n_tokens
      |FROM v GROUP BY 1
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.freqOfFreq(
        t(s, d, "documents"), col("text"), maxF = 10)),

    // BPE tokenizer training, round-0 statistic: frequency-weighted
    // adjacent character pairs over the word-frequency table — the counts
    // BPE tokenizer APPLY, cross-engine exact: a fixed 4-merge chain
    // (ch, ba, tch, batch — each rank consumes the previous rank's
    // output, so rank order is load-bearing) replayed over every word.
    // The engine runs the trained-tokenizer path (Bpe.tokenize, narrow
    // typed map, stream-safe); the oracle replays each merge as a
    // plain-string global replace over '#'-wrapped symbol strings
    // ('#a##b#' → '#ab#' — double separators make adjacent merge sites
    // non-overlapping, so left-to-right replace IS the greedy BPE scan).
    Q("q_bpe_tokenize", Some("""
      |WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents),
      |w AS (SELECT doc_id, i, tk[i] AS wd
      |  FROM t, unnest(range(1, len(tk) + 1)) AS u(i) WHERE tk[i] != ''),
      |m AS (SELECT doc_id, i, string_split(trim(replace(replace(replace(replace(
      |    '#' || array_to_string(string_split(wd, ''), '##') || '#',
      |    '#c##h#', '#ch#'), '#b##a#', '#ba#'), '#t##ch#', '#tch#'),
      |    '#ba##tch#', '#batch#'), '#'), '##') AS toks
      |  FROM w),
      |a AS (SELECT doc_id, sum(len(toks)) AS n_bpe,
      |    md5(string_agg(array_to_string(toks, ' '), ' ' ORDER BY i)) AS toks_md5
      |  FROM m GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe,
      |  coalesce(a.toks_md5, md5('')) AS toks_md5
      |FROM documents d LEFT JOIN a USING (doc_id)
      |""".stripMargin.trim))(
      (s, d) => {
        val merges = Seq(
          graft.operators.Bpe.Merge(0, "c", "h", 0L),
          graft.operators.Bpe.Merge(1, "b", "a", 0L),
          graft.operators.Bpe.Merge(2, "t", "ch", 0L),
          graft.operators.Bpe.Merge(3, "ba", "tch", 0L))
        graft.operators.Bpe.tokenize(
          t(s, d, "documents"), "doc_id", "text", merges)
          .select(col("doc_id"),
            size(col("bpe_tokens")).cast("long").as("n_bpe"),
            md5(concat_ws(" ", col("bpe_tokens"))).as("toks_md5"))
      }),

    // tokenizer fertility / coverage per source under the same fixed
    // 4-merge chain as q_bpe_tokenize: exact integer words / BPE tokens /
    // chars + the two standard ratios (tokens per 1000 words, chars per
    // token ×10⁶) — the "which sources does this tokenizer serve badly?"
    // pre-training report. Oracle replays the merge chain with the
    // double-separator global replaces and aggregates at the word level.
    Q("q_bpe_fertility", Some("""
      |WITH t AS (SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS tk FROM documents),
      |w AS (SELECT doc_id, source, tk[i] AS wd
      |  FROM t, unnest(range(1, len(tk) + 1)) AS u(i) WHERE tk[i] != ''),
      |m AS (SELECT doc_id, source, len(wd) AS nc, len(string_split(trim(replace(replace(replace(replace(
      |    '#' || array_to_string(string_split(wd, ''), '##') || '#',
      |    '#c##h#', '#ch#'), '#b##a#', '#ba#'), '#t##ch#', '#tch#'),
      |    '#ba##tch#', '#batch#'), '#'), '##')) AS nt
      |  FROM w),
      |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_words,
      |    CAST(sum(nt) AS BIGINT) AS n_tokens, CAST(sum(nc) AS BIGINT) AS n_chars
      |  FROM m GROUP BY source)
      |SELECT source, n_words, n_tokens, n_chars,
      |  n_tokens * 1000 // n_words AS tokens_per_kword,
      |  n_chars * 1000000 // n_tokens AS chars_per_token_ppm
      |FROM a
      |""".stripMargin.trim))(
      (s, d) => {
        val merges = Seq(
          graft.operators.Bpe.Merge(0, "c", "h", 0L),
          graft.operators.Bpe.Merge(1, "b", "a", 0L),
          graft.operators.Bpe.Merge(2, "t", "ch", 0L),
          graft.operators.Bpe.Merge(3, "ba", "tch", 0L))
        graft.operators.Bpe.fertilityReport(
          t(s, d, "documents"), "doc_id", "text", merges, "source")
      }),

    // the first merge argmaxes over (Bpe.train drives the full loop;
    // BpeSpec pins its deterministic merge sequence). Vocab-sized work
    // after one corpus-sized word count; integer output, exact compare.
    Q("q_bpe_pairs", Some("""
      |WITH w AS (
      |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word FROM documents),
      |v AS (SELECT word, count(*) AS f FROM w WHERE len(word) > 0 GROUP BY 1),
      |p AS (SELECT word, f, unnest(range(1, len(word))) AS i FROM v WHERE len(word) >= 2)
      |SELECT substring(word, CAST(i AS INT), 1) AS a,
      |  substring(word, CAST(i AS INT) + 1, 1) AS b,
      |  CAST(sum(f) AS BIGINT) AS n
      |FROM p GROUP BY 1, 2
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Bpe.pairStats(
        graft.operators.Bpe.wordFreq(t(s, d, "documents"), "text"))),

    // Count-Min Sketch round trip: build the mergeable cell-table sketch
    // over all token occurrences, then point-query it for the exact
    // top-20 tokens. Cells derive from the portable 60-bit hash, so
    // DuckDB rebuilds the bit-identical sketch; output is (token, exact
    // count, CMS estimate) — the estimate column IS the operator under
    // test (≥ exact always; ≤ exact + εN w.h.p.). depth 4 × width 512
    // keeps the artifact ≤ 2048 rows at any corpus size.
    Q("q_cms_topk", Some("""
      |WITH tok AS (
      |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token FROM documents),
      |lanes AS (SELECT unnest(range(4)) AS i),
      |cells AS (
      |  SELECT i, (('0x' || substring(md5(token), 1, 15))::BIGINT
      |      + i * ('0x' || substring(md5(token), 16, 15))::BIGINT) % 512 AS cell,
      |    count(*) AS cnt
      |  FROM tok CROSS JOIN lanes GROUP BY 1, 2),
      |top AS (SELECT token, n AS exact FROM (
      |  SELECT token, count(*) AS n, row_number() OVER (ORDER BY count(*) DESC, token) AS rk
      |  FROM tok GROUP BY token)
      |  WHERE rk <= 20)
      |SELECT t.token, t.exact, min(coalesce(c.cnt, 0)) AS est
      |FROM top t CROSS JOIN lanes l
      |LEFT JOIN cells c ON c.i = l.i
      |  AND c.cell = (('0x' || substring(md5(t.token), 1, 15))::BIGINT
      |      + l.i * ('0x' || substring(md5(t.token), 16, 15))::BIGINT) % 512
      |GROUP BY 1, 2
      |""".stripMargin.trim))(
      (s, d) => {
        import graft.functions.Sketches
        // ONE token scan: the per-token count table (needed for the exact
        // column anyway) is materialized once and feeds both the weighted
        // sketch build (CMS is linear — cell-identical to sketching raw
        // occurrences) and the top-20
        val counts = t(s, d, "documents")
          .select(explode(split(lower(col("text")), "\\s+")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("exact"))
          .transform(Materialize(_))
        val sketch = Sketches.cmsBuild(counts, col("token"),
          depth = 4, width = 512, weight = col("exact"))
        val top = graft.operators.Similarity.topKPerKey(counts, Nil,
            struct((-col("exact")).as("nn"), col("token").as("tk")), 20)
          .select(explode(col("topk")).as("t"))
          .select(col("t.tk").as("token"), (-col("t.nn")).as("exact"))
        top.join(
            Sketches.cmsEstimate(sketch, top, col("token"), depth = 4, width = 512)
              .withColumnRenamed("item", "token"),
            Seq("token"))
      }),

    // trending events: top-3 event types per hourly window — the windowed
    // top-k composition (window bucket + count + bounded top-k per
    // window), all partial-agg shuffles.
    Q("q_trending", Some("""
      |WITH w AS (SELECT event_type,
      |  (epoch_ns(ts) // 1000 // 3600000000) * 3600000000 AS win_start FROM events),
      |c AS (SELECT win_start, event_type, count(*) AS n FROM w GROUP BY 1, 2)
      |SELECT win_start, event_type, n FROM (
      |  SELECT win_start, event_type, n,
      |    row_number() OVER (PARTITION BY win_start ORDER BY n DESC, event_type) AS rk FROM c)
      |WHERE rk <= 3
      |""".stripMargin.trim))(
      (s, d) => {
        val counts = t(s, d, "events")
          .select(col("event_type"),
            (expr("ts div 1000 div 3600000000") * 3600000000L).as("win_start"))
          .groupBy("win_start", "event_type").agg(count(lit(1)).as("n"))
        graft.operators.Similarity.topKPerKey(counts, Seq("win_start"),
            struct((-col("n")).as("nn"), col("event_type").as("et")), 3)
          .select(col("win_start"), explode(col("topk")).as("t"))
          .select(col("win_start"), col("t.et").as("event_type"), (-col("t.nn")).as("n"))
      }),

    // dataset-mixture sampling: per-source deterministic rates (keep all
    // of src0, half of src1, none of src2, 1-in-5 of the rest) — the
    // data-mixing step of a pretraining corpus, as one narrow filter.
    Q("q_sample_mix", Some("""
      |SELECT doc_id, source FROM documents
      |WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 <
      |  CASE WHEN source = 'src0' THEN 10 WHEN source = 'src1' THEN 5
      |       WHEN source = 'src2' THEN 0 ELSE 2 END
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.sampleMix(
        t(s, d, "documents"), col("doc_id"), col("source"),
        rates = Map("src0" -> 10, "src1" -> 5, "src2" -> 0),
        defaultNum = 2, den = 10)
        .select("doc_id", "source")),

    // per-source cap: keep the 3 longest docs per source (ties to the
    // smaller doc_id) — the "max N per domain" curation step. Bounded
    // topk_agg carries ≤ 3 keys per source through the shuffle (no window
    // sort); survivors semi-join back for full rows. Integer output.
    Q("q_source_cap", Some("""
      |SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars, row_number() OVER (
      |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 3
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.capPerStratum(
        t(s, d, "documents").select("doc_id", "source", "n_chars"),
        strata = Seq("source"),
        ord = -col("n_chars"), key = "doc_id", n = 3)),

    // temperature-rebalanced mixing (α = 0.5): per-language rates computed
    // FROM the corpus histogram (weight ∝ ⌊√n⌋, normalized to a 100-row
    // budget) instead of hand-specified — damps the dominant language,
    // lifts the small ones. Membership is exact integer arithmetic on the
    // full 60-bit md5 hash (Spark decimal / DuckDB HUGEINT); the oracle
    // rebuilds the same histogram → weights → targets → filter.
    // Integer-id output, exact compare.
    Q("q_temperature_mix", Some("""
      |WITH n AS (SELECT lang AS s, count(*) AS ns FROM documents GROUP BY 1),
      |w AS (SELECT s, ns, CAST(floor(sqrt(CAST(ns AS DOUBLE))) AS BIGINT) AS ws FROM n),
      |tg AS (SELECT s, ns,
      |  CAST(floor(CAST(100 * ws AS DOUBLE) / (SELECT sum(ws) FROM w)) AS BIGINT) AS ts
      |  FROM w)
      |SELECT d.doc_id, d.lang FROM documents d
      |JOIN tg ON d.lang IS NOT DISTINCT FROM tg.s
      |WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT::HUGEINT
      |  * ns < ts::HUGEINT * 1152921504606846976
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.sampleTemperature(
        t(s, d, "documents"), col("doc_id"), col("lang"), budget = 100)
        .select("doc_id", "lang")),

    // epoch-aware temperature mixing: budget 1000 over ~500 docs, so
    // √-lifted strata replicate into full epochs plus an exact fractional
    // remainder (how pretraining mixes consume small high-value sources).
    // ⌊t/n⌋, t mod n, and the remainder test are all exact integer
    // arithmetic (full 60-bit hash space) — the oracle rebuilds the
    // identical epoch fan-out.
    Q("q_epoch_mix", Some("""
      |WITH n AS (SELECT lang AS s, count(*) AS ns FROM documents GROUP BY 1),
      |w AS (SELECT s, ns, CAST(floor(sqrt(CAST(ns AS DOUBLE))) AS BIGINT) AS ws FROM n),
      |tg AS (SELECT s, ns,
      |  CAST(floor(CAST(1000 * ws AS DOUBLE) / (SELECT sum(ws) FROM w)) AS BIGINT) AS ts
      |  FROM w),
      |c AS (SELECT d.doc_id, d.lang, ts // ns AS fullc, ts % ns AS rem, ns,
      |  ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS u
      |  FROM documents d JOIN tg ON d.lang IS NOT DISTINCT FROM tg.s)
      |SELECT doc_id, lang, CAST(unnest(generate_series(1,
      |  fullc + CASE WHEN u::HUGEINT * ns < rem::HUGEINT * 1152921504606846976
      |          THEN 1 ELSE 0 END)) AS BIGINT) AS epoch
      |FROM c
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.mixEpochs(
        t(s, d, "documents"), col("doc_id"), col("lang"), budget = 1000)
        .select("doc_id", "lang", "epoch")),

    // sequence packing: chunks (8-token windows, overlap 2) greedily
    // packed into 20-token training bins per doc. The greedy scan is a
    // Catalyst aggregate lambda over each doc's chunk list (one partial-
    // agg shuffle); the oracle replays it as a recursive CTE.
    Q("q_pack", Some("""
      |WITH RECURSIVE tk AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
      |c AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 1), 6)) AS s FROM tk),
      |ch AS (SELECT doc_id, CAST(s // 6 AS INT) AS chunk_no,
      |  CAST(least(8, len(t) - s) AS INT) AS chunk_tokens,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY s) AS rn FROM c),
      |pack AS (
      |  SELECT doc_id, chunk_no, chunk_tokens, rn, 0 AS bin,
      |    CAST(chunk_tokens AS BIGINT) AS cur
      |  FROM ch WHERE rn = 1
      |  UNION ALL
      |  SELECT c.doc_id, c.chunk_no, c.chunk_tokens, c.rn,
      |    CASE WHEN p.cur + c.chunk_tokens > 20 AND p.cur > 0 THEN p.bin + 1 ELSE p.bin END,
      |    CASE WHEN p.cur + c.chunk_tokens > 20 AND p.cur > 0
      |      THEN CAST(c.chunk_tokens AS BIGINT) ELSE p.cur + c.chunk_tokens END
      |  FROM ch c JOIN pack p ON c.doc_id = p.doc_id AND c.rn = p.rn + 1)
      |SELECT doc_id, chunk_no, chunk_tokens, bin FROM pack
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.packChunks(
        graft.operators.Corpus.chunk(
          t(s, d, "documents"), "doc_id", "text", chunkTokens = 8, overlapTokens = 2),
        "doc_id", "chunk_no", "chunk_tokens", capacity = 20)),

    // chunk+pack at ingest: the STREAMING form of q_pack — documents
    // arrive whole, so chunking and greedy bin assignment both happen
    // inside the row before the explode (no shuffle, no state; the batch
    // pipeline needs a re-group shuffle to pack). Same windows + same
    // greedy fold, plus the chunk digest carried through; the oracle is
    // q_pack's recursive CTE extended with the md5.
    Q("q_pack_ingest", Some("""
      |WITH RECURSIVE tk AS (
      |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
      |c AS (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 2, 1), 6)) AS s FROM tk),
      |ch AS (SELECT doc_id, CAST(s // 6 AS INT) AS chunk_no,
      |  CAST(least(8, len(t) - s) AS INT) AS chunk_tokens,
      |  md5(array_to_string(t[s + 1 : s + 8], ' ')) AS chunk_md5,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY s) AS rn FROM c),
      |pack AS (
      |  SELECT doc_id, chunk_no, chunk_tokens, chunk_md5, rn, 0 AS bin,
      |    CAST(chunk_tokens AS BIGINT) AS cur
      |  FROM ch WHERE rn = 1
      |  UNION ALL
      |  SELECT c.doc_id, c.chunk_no, c.chunk_tokens, c.chunk_md5, c.rn,
      |    CASE WHEN p.cur + c.chunk_tokens > 20 AND p.cur > 0 THEN p.bin + 1 ELSE p.bin END,
      |    CASE WHEN p.cur + c.chunk_tokens > 20 AND p.cur > 0
      |      THEN CAST(c.chunk_tokens AS BIGINT) ELSE p.cur + c.chunk_tokens END
      |  FROM ch c JOIN pack p ON c.doc_id = p.doc_id AND c.rn = p.rn + 1)
      |SELECT doc_id, chunk_no, chunk_tokens, chunk_md5, bin FROM pack
      |""".stripMargin.trim))(
      (s, d) => graft.streaming.StreamingCorpus.chunkAndPackAtIngest(
        t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 8, overlapTokens = 2, capacity = 20)),

    // THE composed corpus-prep pipeline, end to end in one plan:
    // deterministic 4-in-5 sample → quality gate → context-window chunking
    // → corpus-wide chunk dedup (first (doc, chunk) wins) → per-source
    // stats. One narrow sample+gate pass, one explode, one dedup shuffle,
    // one agg shuffle.
    Q("q_corpus_pipeline", Some(
      s"""WITH sampled AS (SELECT doc_id, source, text FROM documents
         |  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 < 4
         |    AND ${qualityScoreSql("text")} >= 0.3),
         |tk AS (SELECT doc_id, source, regexp_split_to_array(text, '\\s+') AS t FROM sampled),
         |c AS (SELECT doc_id, source, t, unnest(range(0, greatest(len(t) - 2, 1), 6)) AS s FROM tk),
         |ch AS (SELECT doc_id, source, s, CAST(least(8, len(t) - s) AS INT) AS ctoks,
         |  md5(array_to_string(t[s + 1 : s + 8], ' ')) AS cmd5 FROM c),
         |dedup AS (SELECT doc_id, source, ctoks FROM (
         |  SELECT doc_id, source, ctoks,
         |    row_number() OVER (PARTITION BY cmd5 ORDER BY doc_id, s) AS rn FROM ch)
         |  WHERE rn = 1)
         |SELECT source, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
         |  CAST(sum(ctoks) AS BIGINT) AS total_tokens
         |FROM dedup GROUP BY source""".stripMargin))(
      (s, d) => {
        val base = graft.operators.Corpus.sampleByHash(
            t(s, d, "documents"), col("doc_id"), num = 4, den = 5)
          .filter(qualityScore(col("text")) >= 0.3)
        val chunks = graft.operators.Corpus.chunk(
          base, "doc_id", "text", chunkTokens = 8, overlapTokens = 2,
          keepCols = Seq("source"))
        graft.state.Upserts.firstByKey(
            chunks, Seq("chunk_md5"), Seq(col("doc_id"), col("chunk_no")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_chunks"),
            countDistinct("doc_id").as("n_docs"),
            sum("chunk_tokens").cast("long").as("total_tokens"))
      }),

    // hopping (sliding) window: 2h length, 1h slide — every event lands in
    // exactly two windows. Spark's window() generates both assignments
    // natively; the oracle unnests the two window starts per event with
    // the same integer micros arithmetic.
    Q("q_window_hopping", Some(
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS us,
        |  CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |w AS (SELECT event_type, v, unnest([
        |    (us // 3600000000) * 3600000000 - 3600000000,
        |    (us // 3600000000) * 3600000000]) AS win_start
        |  FROM e)
        |SELECT win_start, event_type, count(*) AS n,
        |  CAST(sum(v) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin))(
      (s, d) => t(s, d, "events")
        .select(col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("tsm"),
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
        .groupBy(window(col("tsm"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("v").cast("double").as("total_value"))
        .select(unix_micros(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("total_value"))),

    // event-time tumbling window (1h), the windowed-agg form the reference
    // lacks entirely (SURVEY §1.4) but Spark gives for free. ts is nanos-
    // as-long; integer `div` keeps bucket math exact in both engines.
    Q("q_window_tumbling", Some(
      "SELECT CAST(floor(epoch_ns(ts) / 3600000000000) AS BIGINT) AS hour_bucket, " +
      "event_type, count(*) AS n, " +
      "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value " +
      "FROM events GROUP BY 1, 2"))(
      (s, d) => t(s, d, "events")
        .groupBy(
          expr("ts div 3600000000000").as("hour_bucket"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_value"))),

    // hashed-linear quality classifier (fastText-style filter shape):
    // margin = Σ over token occurrences of w[portable_hash(tok) % 64],
    // integer weights ⇒ exact long arithmetic in both engines. The weight
    // table here is the deterministic w[b] = b % 7 − 3 so the oracle can
    // recompute it; production passes Classifier.trainPerceptron output.
    // Spark side is scan + narrow project ONLY (weights are a literal
    // array; no join, no shuffle — the empty-doc case needs the oracle's
    // LEFT JOIN but costs Spark nothing).
    Q("q_quality_classifier", Some("""
      |WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tk
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, CAST(sum(
      |    (('0x' || substring(md5(tk), 1, 15))::BIGINT % 64) % 7 - 3) AS BIGINT) AS margin
      |  FROM tok WHERE length(tk) > 0 GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(m.margin, 0) AS margin,
      |  coalesce(m.margin, 0) > 0 AS keep
      |FROM documents d LEFT JOIN m USING (doc_id)
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Classifier.scoreLinear(
          t(s, d, "documents").select("doc_id", "text"), "text",
          weights = Array.tabulate(64)(b => (b % 7 - 3).toLong))
        .select(col("doc_id"), col("margin"), (col("margin") > 0).as("keep"))),

    // corpus drift: top-50 tokens whose relative frequency moved most
    // between two sources, ranked by the exact cross-multiplied gap
    // |cntA·totB − cntB·totA| (integer — no float ever compared; the
    // reported shift is that integer's one correctly-rounded double
    // conversion). Vocabulary-sized intermediates + TakeOrdered top-k.
    Q("q_token_shift", Some("""
      |WITH tok AS (
      |  SELECT source AS c, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
      |  FROM documents WHERE source IN ('src0', 'src1')),
      |cnt AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN c = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
      |    CAST(sum(CASE WHEN c = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT sum(cnt_a) AS ta, sum(cnt_b) AS tb FROM cnt)
      |SELECT token, cnt_a, cnt_b,
      |  CAST(abs(CAST(cnt_a AS HUGEINT) * tb - CAST(cnt_b AS HUGEINT) * ta) AS DOUBLE) AS shift
      |FROM cnt, tot
      |ORDER BY abs(CAST(cnt_a AS HUGEINT) * tb - CAST(cnt_b AS HUGEINT) * ta) DESC, token
      |LIMIT 50
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.tokenShift(
        t(s, d, "documents").select("source", "text"),
        col("source"), col("text"), a = "src0", b = "src1", k = 50)),

    // collocation mining: top-50 adjacent pairs by the exact scaled
    // Ochiai² association ⌊cnt_xy²·10⁶/(cnt_x·cnt_y)⌋ — log-free phrase
    // scoring, vocabulary-sized joins, TakeOrdered top-k.
    Q("q_collocations", Some("""
      |WITH toks AS (SELECT regexp_split_to_array(lower(text), '\s+') AS tk FROM documents),
      |st AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks),
      |bc AS (SELECT tk[i] AS w1, tk[i + 1] AS w2, count(*) AS cnt_xy
      |  FROM st GROUP BY 1, 2 HAVING count(*) >= 3),
      |uc AS (SELECT w, count(*) AS c FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY 1),
      |sc AS (SELECT w1, w2, cnt_xy, ux.c AS cnt_x, uy.c AS cnt_y,
      |  CAST(CAST(cnt_xy AS HUGEINT) * cnt_xy * 1000000
      |    // (CAST(ux.c AS HUGEINT) * uy.c) AS BIGINT) AS score
      |  FROM bc JOIN uc ux ON ux.w = bc.w1 JOIN uc uy ON uy.w = bc.w2)
      |SELECT w1, w2, cnt_xy, cnt_x, cnt_y, score FROM sc
      |ORDER BY score DESC, w1, w2 LIMIT 50
      |""".stripMargin.trim))(
      (s, d) => graft.operators.Corpus.collocations(
        t(s, d, "documents").select("text"), col("text"), k = 50, minCount = 3)),

    // the published Gopher word-level filter bundle, every threshold an
    // integer cross-multiplication (no float compared anywhere) — stats
    // + keep per document, one narrow codegen'd projection.
    Q("q_gopher_rules", Some(s"""
      |WITH s AS (SELECT doc_id,
      |  CAST(${tokenCountWsSql("text")} AS BIGINT) AS n_words,
      |  CAST(${gopherWordCharsSql("text")} AS BIGINT) AS word_chars,
      |  CAST(${gopherAlphaWordsSql("text")} AS BIGINT) AS alpha_words,
      |  CAST(${gopherSymbolsSql("text")} AS BIGINT) AS symbols,
      |  CAST(${gopherStopHitsSql("text")} AS BIGINT) AS stop_hits
      |  FROM documents)
      |SELECT doc_id, n_words, word_chars, alpha_words, symbols, stop_hits,
      |  ${gopherKeepSql("n_words", "word_chars", "alpha_words", "symbols",
          "stop_hits", 10, 100000)} AS keep
      |FROM s
      |""".stripMargin.trim))(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          tokenCountWs(col("text")).cast("long").as("n_words"),
          gopherWordChars(col("text")).cast("long").as("word_chars"),
          gopherAlphaWords(col("text")).cast("long").as("alpha_words"),
          gopherSymbols(col("text")).cast("long").as("symbols"),
          gopherStopHits(col("text")).cast("long").as("stop_hits"))
        .withColumn("keep", gopherKeep(col("n_words"), col("word_chars"),
          col("alpha_words"), col("symbols"), col("stop_hits"),
          minWords = 10, maxWords = 100000))),

    // blocklist / banned-phrase counts: ONE Aho–Corasick automaton walk
    // per document counts every (overlapping) occurrence of K patterns
    // at once — the native `multi_match` expression vs K regex passes.
    // The oracle replays each pattern as a sliding substring count.
    Q("q_blocklist", Some("""
      |WITH p AS (SELECT unnest(['table table', 'value', 'spark a', 'a a']) AS pattern),
      |d AS (SELECT doc_id, lower(text) AS t FROM documents)
      |SELECT d.doc_id, p.pattern,
      |  len(list_filter(range(1, length(t) - length(pattern) + 2),
      |    i -> substring(t, i, length(pattern)) = pattern)) AS n_hits
      |FROM d CROSS JOIN p
      |""".stripMargin.trim))(
      (s, d) => {
        val pats = Seq("table table", "value", "spark a", "a a")
        t(s, d, "documents")
          .select(col("doc_id"),
            posexplode(graft.functions.TextAnalysis.blocklistCounts(
              lower(col("text")), pats)).as(Seq("_blI", "n_hits")))
          .select(col("doc_id"),
            element_at(lit(pats.toArray), col("_blI") + 1).as("pattern"),
            col("n_hits"))
      }),
  )
}
