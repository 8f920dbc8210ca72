package graft.registry

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.Windows
import graft.operators.{Dedup, Packing, Sampling, Sketch, TextAnalysis}
import Common._

/** Corpus text operators and sampling: language id, quality signals,
  * token statistics, sketches, decontamination, sampling and packing.
  */
object Text {

  val all: Seq[Query] = Seq(
    // ---- LLM-training-data operators (documents / embeddings tables) ----

    // Language ID via stopword-dictionary argmax.
    Query("t1_langid", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
    }, Oracle(langIdSql)),

    // Deterministic language-stratified hash sample: en 25%, de 50%,
    // everything else 80% — membership from the md5 hash of doc_id, so
    // the exact row set is engine-portable and rerun-stable.
    Query("x1_stratified_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("lang", TextAnalysis.langId(col("text")))
      Sampling.stratifiedSample(docs, "doc_id", col("lang"),
          Map("en" -> 0.25, "de" -> 0.5), 0.8)
        .select(col("doc_id"), col("lang"))
    }, Oracle(
      s"""WITH lp AS (SELECT * FROM ($langIdSql) t),
         |b AS (SELECT doc_id, lang_pred AS lang,
         |        CAST(concat('0x', substr(md5(concat('sample:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         |          % 1000000 AS bkt
         |      FROM lp)
         |SELECT doc_id, lang FROM b
         |WHERE bkt < (CASE lang WHEN 'en' THEN 250000 WHEN 'de' THEN 500000
         |             ELSE 800000 END)""".stripMargin)),

    // Deterministic weighted sample (A-Res): 100 docs, probability
    // proportional to text length, reproducible across engines.
    Query("x2_weighted_sample", (s, dir) => {
      Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
          length(col("text")), 100)
        .select(col("doc_id"), length(col("text")).cast("long").as("wt"),
          col("rank"))
        .orderBy("rank")
    }, Oracle(
      s"""WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS wt FROM documents),
        |k AS (SELECT doc_id, wt,
        |    ${roundSql(
            "ln((CAST(CAST(concat('0x', substr(md5(concat('ws:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0) " +
            "/ 1152921504606846976.0) / CAST(wt AS DOUBLE)", 9)} AS wskey
        |  FROM d WHERE wt > 0),
        |r AS (SELECT doc_id, wt,
        |    row_number() OVER (ORDER BY wskey DESC, doc_id ASC) AS rank
        |  FROM k)
        |SELECT doc_id, wt, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin)),

    // Deterministic 80/10/10 train/val/test split by doc_id hash — a
    // row's split is a function of its key alone (never migrates when
    // upstream filters change), summarized per split.
    Query("x3_hash_split", (s, dir) => {
      t(s, dir, "documents")
        .withColumn("split", Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    }, Oracle(
      """WITH b AS (SELECT doc_id, n_chars,
        |    CAST(concat('0x', substr(md5(concat('sample:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
        |      % 1000000 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 800000 THEN 'train'
        |            WHEN bkt < 900000 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-source document cap (the per-domain cap of corpus curation):
    // at most 15 docs per source survive, chosen by a stable hash
    // lottery so the kept set is engine-portable and rerun-stable.
    Query("x4_source_cap", (s, dir) => {
      Sampling.capPerGroup(t(s, dir, "documents"), "doc_id", "source", 15)
        .select(col("doc_id"), col("source"))
        .orderBy("source", "doc_id")
    }, Oracle(
      """WITH r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(concat('0x', substr(md5(concat('cap:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) ASC,
        |        doc_id ASC) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rk <= 15
        |ORDER BY source, doc_id""".stripMargin)),

    // Temperature-based source rebalance (τ=2): per-source keep
    // thresholds ∝ p^(1/τ−1) normalized to the rarest source, applied as
    // a deterministic hash lottery; summarized per source.
    Query("x5_temperature_sample", (s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = Sampling.temperatureSample(docs, "doc_id", "source", 2.0)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      Sampling.temperatureThresholds(docs, "source", 2.0)
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_total"), col("thr"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    }, Oracle(
      """WITH c AS (SELECT source, count(*) AS n_total FROM documents GROUP BY 1),
        |r AS (SELECT source, n_total,
        |    pow(CAST(n_total AS DOUBLE) / CAST((SELECT sum(n_total) FROM c) AS DOUBLE),
        |      1.0/2.0 - 1.0) AS raw
        |  FROM c),
        |n AS (SELECT source, n_total,
        |    CAST(round(raw / (SELECT max(raw) FROM r) * 1000000, 0) AS BIGINT) AS thr
        |  FROM r),
        |k AS (SELECT d.source, count(*) AS n_kept
        |  FROM documents d JOIN n USING (source)
        |  WHERE CAST(concat('0x', substr(md5(concat('temp:', CAST(d.doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
        |      % 1000000 < n.thr
        |  GROUP BY 1)
        |SELECT n.source, n.n_total, n.thr, COALESCE(k.n_kept, 0) AS n_kept
        |FROM n LEFT JOIN k USING (source) ORDER BY n.source""".stripMargin)),

    // GPT-style sequence packing: concatenate the corpus in doc_id order
    // and cut into 512-token blocks via a distributed two-phase prefix
    // sum; one row per block with its document span.
    Query("x6_pack_sequences", (s, dir) => {
      Packing.packSequences(t(s, dir, "documents"), "doc_id",
        TextAnalysis.tokenCount(col("text")), 512)
    }, Oracle(
      """WITH tok AS (SELECT doc_id AS id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |cum AS (SELECT id, n, sum(n) OVER (ORDER BY id) AS c FROM tok),
        |spans AS (SELECT id, n, c,
        |    CAST(floor((c - n) / 512.0) AS BIGINT) AS b0,
        |    CAST(floor((c - 1) / 512.0) AS BIGINT) AS b1
        |  FROM cum WHERE n > 0),
        |x AS (SELECT id, n, c, unnest(generate_series(b0, b1)) AS seq_id FROM spans)
        |SELECT seq_id, count(*) AS n_docs,
        |  CAST(sum(LEAST(c, (seq_id + 1) * 512) - GREATEST(c - n, seq_id * 512)) AS BIGINT) AS n_tokens,
        |  min(id) AS first_doc, max(id) AS last_doc
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("documents")))),

    // Inverted index: posting lists for terms below the 80%-of-corpus
    // stopword cut — df-filter applied before any list materializes.
    Query("t15_inverted_index", (s, dir) => {
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
        .select(col("term"), col("df"),
          // pipe-joined for the cross-engine hash (the checker can't sort
          // array cells); numeric order is preserved by sort_array upstream
          concat_ws("|", col("postings").cast("array<string>")).as("postings"))
        .orderBy("term")
    }, Oracle(
      """WITH p AS (SELECT DISTINCT doc_id, w AS term
        |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |          FROM documents) u
        |    WHERE w <> ''),
        |d AS (SELECT term, count(*) AS df FROM p GROUP BY 1
        |      HAVING count(*) >= 3 AND count(*) <=
        |        0.8 * (SELECT count(DISTINCT doc_id) FROM documents))
        |SELECT term, df,
        |  string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS postings
        |FROM p JOIN d USING (term)
        |GROUP BY term, df ORDER BY term""".stripMargin)),

    // Per-language exact length percentiles (linear interpolation — the
    // same definition as DuckDB's quantile_cont).
    // Scale form (round 12, fourth valueSpine application): Spark's
    // percentile() buffers EVERY group value in its aggregation buffer —
    // per-group memory ∝ rows, the aggregate-shaped cousin of the
    // row_number-over-few-groups defect. The exact interpolated
    // percentile is an order statistic plus a linear blend, and order
    // statistics decompose over the value spine: rank r's value is the
    // first spine row whose cumulative count reaches r. Values are
    // document lengths (bounded integral domain), so the spine is
    // value-domain-sized and the heavy phase is a partial-agg ∝ rows.
    // The unchanged quantile_cont oracle pins the interpolation.
    Query("t6_length_percentiles", (s, dir) => {
      val qs = Seq(0.5, 0.9, 0.99)
      val base = t(s, dir, "documents")
        .withColumn("lang", TextAnalysis.langId(col("text")))
        .select(col("lang"), length(col("text")).cast("long").as("len"))
      Windows.valueSpine(base, Seq("lang"), "len", ascending = true)
        .select(col("lang"), col("len"),
          (col("cum_prev") + col("cnt")).as("cum"), col("n"),
          explode(array(qs.map(lit(_)): _*)).as("q"))
        // p = (N-1)·q; the blend runs between the values at 1-based
        // ranks floor(p)+1 and floor(p)+2 (clamped to N)
        .withColumn("p", (col("n") - 1).cast("double") * col("q"))
        .withColumn("i0", floor(col("p")).cast("long") + 1)
        .withColumn("i1", least(floor(col("p")).cast("long") + 2, col("n")))
        .groupBy("lang", "q")
        .agg(max("n").as("n_docs"), max("p").as("pp"),
          min(when(col("cum") >= col("i0"), col("len"))).as("xlo"),
          min(when(col("cum") >= col("i1"), col("len"))).as("xhi"))
        .select(col("lang"), col("n_docs"), col("q"),
          round(col("xlo") +
            (col("pp") - floor(col("pp"))) * (col("xhi") - col("xlo")), 6)
            .as("res"))
        .groupBy("lang")
        .agg(max("n_docs").as("n_docs"),
          max(when(col("q") === 0.5, col("res"))).as("p50"),
          max(when(col("q") === 0.9, col("res"))).as("p90"),
          max(when(col("q") === 0.99, col("res"))).as("p99"))
    }, Oracle(
      s"""WITH lp AS (SELECT * FROM ($langIdSql) t),
         |ln AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents)
         |SELECT lang_pred AS lang, count(*) AS n_docs,
         |  round(quantile_cont(n, 0.5), 6) AS p50,
         |  round(quantile_cont(n, 0.9), 6) AS p90,
         |  round(quantile_cont(n, 0.99), 6) AS p99
         |FROM ln JOIN lp USING (doc_id) GROUP BY 1""".stripMargin)),

    // Quality scoring: length/punct/stopword features + composite score.
    Query("t2_text_quality", (s, dir) => {
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_chars"), col("n_words"),
          round(col("avg_word_len"), 6).as("avg_word_len"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("quality_score"), 6).as("quality_score"))
    }, Oracle(
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE) AS sum_len,
        |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
        |    CAST(len(list_filter(list_transform(string_split(text, ' '), t -> lower(t)),
        |      t -> t IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'for'))) AS BIGINT) AS en_hits
        |  FROM documents)
        |SELECT doc_id, n_chars, n_words,
        |  round(sum_len / n_words, 6) AS avg_word_len,
        |  round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
        |  round(CAST(en_hits AS DOUBLE) / n_words, 6) AS stopword_ratio,
        |  round((CAST(en_hits AS DOUBLE) / n_words) * 0.5 +
        |    (CASE WHEN n_words >= 20 THEN 0.5 ELSE 0.0 END), 6) AS quality_score
        |FROM f""".stripMargin)),

    // Token counting: whitespace + BPE-ish regex proxy.
    Query("t3_token_count", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish_tokens"))
    }, Oracle(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_bpeish_tokens
        |FROM documents""".stripMargin)),

    // Document fingerprint (md5 of normalized text).
    Query("t4_fingerprint", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    }, Oracle(
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin)),

    // Corpus-level rollup: per-language doc counts, token totals, and
    // exact-duplicate counts — the summary pass a training-data pipeline
    // runs over a crawl before filtering.
    Query("t5_corpus_stats", (s, dir) => {
      val enriched = t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.tokenCount(col("text")).as("toks"),
        md5(col("text")).as("h"))
      val withDup = enriched.withColumn("is_dup",
        (col("doc_id") =!= min("doc_id").over(Window.partitionBy("h"))).cast("long"))
      withDup.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("is_dup")).as("n_dups"))
    }, Oracle(
      s"""WITH lp AS (SELECT * FROM ($langIdSql) t),
         |tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |         md5(text) AS h
         |       FROM documents),
         |dup AS (SELECT doc_id, toks,
         |          CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY h) THEN 1 ELSE 0 END AS d
         |        FROM tk)
         |SELECT lang_pred AS lang, count(*) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens, CAST(sum(d) AS BIGINT) AS n_dups
         |FROM dup JOIN lp USING (doc_id) GROUP BY 1""".stripMargin)),

    // TF-IDF / BM25 salient-term extraction: top-3 terms per document.
    Query("t7_tfidf", (s, dir) => {
      TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
    },
    // BM25 constants are interpolated from the SAME Scala doubles the
    // Spark plan evaluates: (1.2 + 1.0) is NOT the double literal 2.2,
    // and a hand-written 2.2 in the SQL would diverge at the last ulp.
    Oracle(
      s"""WITH terms AS (
        |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT id, term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2),
        |dl AS (SELECT id, sum(tf) AS len FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |g AS (SELECT count(*) AS n, CAST(sum(len) AS DOUBLE)/count(*) AS avglen FROM dl),
        |scored AS (
        |  SELECT id, term, tf,
        |    round(tf * (ln((n + 1.0)/(df + 1.0)) + 1.0), 6) AS score,
        |    round(ln(1.0 + (n - df + 0.5)/(df + 0.5))
        |      * ((tf * ${1.2 + 1.0}) / (tf + ${1.2} * (${1.0 - 0.75} + ${0.75} * (len/avglen)))), 6) AS bm25
        |  FROM tf JOIN dl USING(id) JOIN dfq USING(term) CROSS JOIN g),
        |r AS (SELECT id, term, tf, score, bm25,
        |  row_number() OVER (PARTITION BY id ORDER BY score DESC, term) AS rank FROM scored)
        |SELECT id AS doc_id, term, tf, score, bm25, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3""".stripMargin)),

    // HLL cardinality sketch (deterministic md5 registers) per language,
    // alongside the exact distinct count the sketch approximates.
    Query("t8_hll_cardinality", (s, dir) => {
      // two consumers (sketch + exact count) land in the ONE final job —
      // an eager localCheckpoint materializes the exploded words exactly
      // once, where a lazy cache would race-compute the scan/split/explode
      // on both branches; the bench/verify drivers release the persisted
      // RDD between queries
      val words = t(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .localCheckpoint(true)
      val est = Sketch.hllCardinality(words, Seq("lang"), col("w"))
      val exact = words.groupBy("lang")
        .agg(countDistinct(col("w")).as("n_exact"))
      exact.join(est, "lang")
        .select(col("lang"), col("n_exact"), col("n_present"), col("hll_est"))
        .orderBy("lang")
    }, Oracle(
      s"""WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |ww AS (SELECT lang, w FROM w WHERE w <> ''),
        |h AS (SELECT lang, w,
        |  CAST(concat('0x', substr(md5(concat('hll:', w)), 1, 15)) AS BIGINT) AS h FROM ww),
        |r AS (SELECT lang, h % 256 AS bucket, ${Sketch.rho52Sql("(h >> 8)")} AS rho FROM h),
        |reg AS (SELECT lang, bucket, max(rho) AS m_b FROM r GROUP BY 1, 2),
        |g AS (SELECT lang, count(*) AS n_present,
        |  sum(CAST(1 AS BIGINT) << (53 - m_b)) AS s_present FROM reg GROUP BY 1),
        |e AS (SELECT lang, n_present, 256 - n_present AS zeros,
        |  ${Sketch.alphaNumeratorRepr}
        |    / CAST(s_present + (256 - n_present) * (CAST(1 AS BIGINT) << 53) AS DOUBLE) AS raw
        |  FROM g),
        |est AS (SELECT lang, n_present,
        |  round(CASE WHEN raw <= 640.0 AND zeros > 0
        |        THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 4) AS hll_est FROM e),
        |ex AS (SELECT lang, count(DISTINCT w) AS n_exact FROM ww GROUP BY 1)
        |SELECT ex.lang, n_exact, n_present, hll_est
        |FROM ex JOIN est USING(lang) ORDER BY 1""".stripMargin)),

    // Count-min-sketch heavy hitters: estimated vs exact occurrence
    // counts for the corpus's top-20 words — est >= exact always (CMS
    // over-estimates only, via bucket collisions).
    Query("t13_heavy_hitters", (s, dir) => {
      // three consumers (sketch build, estimate probe, exact counts) in
      // one job — eager localCheckpoint, not a lazy cache (same
      // race-compute rule as t8 above)
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .localCheckpoint(true)
      val sketch = Sketch.countMin(words, col("w"))
      val est = Sketch.countMinEstimate(words.distinct(), "w", sketch)
      val exact = words.groupBy("w").agg(count(lit(1)).as("exact"))
      // top-20 cut FIRST (TakeOrderedAndProject: per-partition heads, no
      // global sort), then the rank window runs over 20 rows — a global
      // row_number before the cut would single-partition every distinct
      // word in the corpus
      val top = est.join(exact, "w")
        .orderBy(col("est").desc, col("w").asc).limit(20)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("est").desc, col("w").asc)).cast("long"))
        .select(col("w").as("word"), col("est"), col("exact"), col("rank"))
        .orderBy("rank")
    }, Oracle({
      val hashes = (0 until 4).map(r =>
        s"SELECT w, $r AS r, CAST(concat('0x', substr(md5(concat('cm$r:', w)), 1, 15)) AS BIGINT) % 1024 AS b FROM wf")
        .mkString("\n  UNION ALL ")
      s"""WITH wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wf AS (SELECT w FROM wd WHERE w <> ''),
        |pairs AS (
        |  $hashes),
        |sk AS (SELECT r, b, count(*) AS cnt FROM pairs GROUP BY 1, 2),
        |vp AS (SELECT DISTINCT w, r, b FROM pairs),
        |est AS (SELECT vp.w, min(coalesce(cnt, 0)) AS est
        |  FROM vp LEFT JOIN sk USING(r, b) GROUP BY 1),
        |ex AS (SELECT w, count(*) AS exact FROM wf GROUP BY 1),
        |j AS (SELECT est.w AS word, CAST(est.est AS BIGINT) AS est,
        |    CAST(ex.exact AS BIGINT) AS exact,
        |    row_number() OVER (ORDER BY est.est DESC, est.w ASC) AS rank
        |  FROM est JOIN ex ON est.w = ex.w)
        |SELECT word, est, exact, CAST(rank AS BIGINT) AS rank
        |FROM j WHERE rank <= 20 ORDER BY rank""".stripMargin
    }),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("documents")))),

    // Histogram-sketch approximate quantiles: per-language p50/p90/p99 of
    // document length from 16-char fixed bins — the mergeable one-pass
    // counterpart to t6's exact percentiles (error bounded by bin width).
    Query("t14_hist_quantile", (s, dir) => {
      Sketch.histQuantile(t(s, dir, "documents"), col("lang"), col("n_chars"),
          16.0, Seq(0.5, 0.9, 0.99))
        .select(col("g").as("lang"), col("q"), col("est"))
        .orderBy("lang", "q")
    }, Oracle(
      s"""WITH h AS (SELECT lang AS g, CAST(floor(n_chars / 16.0) AS BIGINT) AS b,
        |    count(*) AS cnt FROM documents GROUP BY 1, 2),
        |c AS (SELECT g, b, cnt,
        |    sum(cnt) OVER (PARTITION BY g ORDER BY b) AS cum FROM h),
        |t AS (SELECT g, max(cum) AS n FROM c GROUP BY 1),
        |x AS (SELECT c.g, b, cnt, cum, n, q FROM c JOIN t USING (g)
        |  CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
        |    (CAST(0.99 AS DOUBLE))) v(q))
        |SELECT g AS lang, q,
        |  ${roundSql("b*16.0 + 16.0*((q*n) - (cum - cnt))/cnt", 6)} AS est
        |FROM x WHERE cum >= q*n AND (cum - cnt) < q*n
        |ORDER BY lang, q""".stripMargin)),

    // Train/eval decontamination: 5-gram leakage of each held-out doc
    // (doc_id % 10 == 0) against the training split's n-gram vocabulary.
    Query("t10_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contamination(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 5)
        .orderBy("doc_id")
    }, Oracle(
      """WITH tok AS (SELECT doc_id AS id, string_split(text, ' ') AS ts FROM documents),
        |idx AS (SELECT id, ts, unnest(range(0, greatest(len(ts)-4, 0))) AS i FROM tok),
        |sh AS (SELECT id, array_to_string(ts[i+1:i+5], ' ') AS s FROM idx),
        |hg AS (SELECT id,
        |  CAST(concat('0x', substr(md5(concat('ng:', s)), 1, 15)) AS BIGINT) AS g FROM sh),
        |tr AS (SELECT DISTINCT g FROM hg WHERE id % 10 <> 0),
        |ev AS (SELECT DISTINCT id, g FROM hg WHERE id % 10 = 0),
        |hits AS (SELECT ev.id, count(*) AS n_grams,
        |    sum(CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END) AS n_hits
        |  FROM ev LEFT JOIN tr ON ev.g = tr.g GROUP BY 1),
        |ids AS (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id % 10 = 0)
        |SELECT ids.id AS doc_id,
        |  coalesce(n_grams, 0) AS n_grams,
        |  CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
        |  round(CAST(n_hits AS DOUBLE) / n_grams, 6) AS ratio
        |FROM ids LEFT JOIN hits USING(id) ORDER BY 1""".stripMargin)),

    // Unigram LM quality score: mean token log-prob under the corpus's
    // own add-one-smoothed unigram distribution.
    Query("t11_lm_score", (s, dir) => {
      TextAnalysis.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      """WITH toks AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tt AS (SELECT id, w FROM toks WHERE w <> ''),
        |freq AS (SELECT w, count(*) AS c FROM tt GROUP BY 1),
        |g AS (SELECT sum(c) AS t, count(*) AS v FROM freq)
        |SELECT id AS doc_id, count(*) AS n_tokens,
        |  round(sum(ln(CAST(c + 1 AS DOUBLE) / (t + v))) / count(*), 6) AS avg_logprob
        |FROM tt JOIN freq USING(w) CROSS JOIN g
        |GROUP BY id ORDER BY id""".stripMargin)),

    // Gopher-style repetition filters: duplicate-word, top-bigram, and
    // duplicate-trigram fractions plus the filter verdict.
    Query("t12_repetition", (s, dir) => {
      TextAnalysis.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }, Oracle(
      """WITH tok AS (SELECT doc_id AS id, string_split(text, ' ') AS ts FROM documents),
        |g1 AS (SELECT id, 1 AS n, unnest(ts) AS g FROM tok),
        |i2 AS (SELECT id, ts, unnest(range(0, greatest(len(ts)-1, 0))) AS i FROM tok),
        |g2 AS (SELECT id, 2 AS n, array_to_string(ts[i+1:i+2], ' ') AS g FROM i2),
        |i3 AS (SELECT id, ts, unnest(range(0, greatest(len(ts)-2, 0))) AS i FROM tok),
        |g3 AS (SELECT id, 3 AS n, array_to_string(ts[i+1:i+3], ' ') AS g FROM i3),
        |c AS (SELECT id, n,
        |  CAST(concat('0x', substr(md5(concat('rep:', g)), 1, 15)) AS BIGINT) AS g,
        |  count(*) AS c FROM
        |  (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3)
        |  GROUP BY 1, 2, 3),
        |a AS (SELECT id,
        |  CAST(sum(CASE WHEN n=1 THEN c END) AS BIGINT) AS nw,
        |  CAST(count(CASE WHEN n=1 THEN 1 END) AS BIGINT) AS ndw,
        |  CAST(sum(CASE WHEN n=2 THEN c END) AS BIGINT) AS nbg,
        |  CAST(max(CASE WHEN n=2 THEN c END) AS BIGINT) AS maxbg,
        |  CAST(sum(CASE WHEN n=3 THEN c END) AS BIGINT) AS ntg,
        |  CAST(coalesce(sum(CASE WHEN n=3 AND c>1 THEN c END), 0) AS BIGINT) AS duptg
        |  FROM c GROUP BY 1),
        |m AS (SELECT id AS doc_id, nw AS n_words,
        |  round(CAST(nw - ndw AS DOUBLE) / nw, 6) AS dup_word_frac,
        |  round(coalesce(CAST(maxbg AS DOUBLE) / nbg, 0.0), 6) AS top_bigram_frac,
        |  round(coalesce(CAST(duptg AS DOUBLE) / ntg, 0.0), 6) AS dup_trigram_frac
        |  FROM a)
        |SELECT doc_id, n_words, dup_word_frac, top_bigram_frac, dup_trigram_frac,
        |  (dup_word_frac > 0.8 OR top_bigram_frac > 0.18 OR dup_trigram_frac > 0.3)
        |    AS repetitive
        |FROM m ORDER BY doc_id""".stripMargin),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("documents")))),

    // Corpus scrubbing: PII-ish patterns (emails, long digit runs) are
    // counted and redacted; the digest of the redacted text is compared so
    // the oracle certifies the full rewritten string, not just the counts.
    Query("t9_redact", (s, dir) => {
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
      val numPat = "[0-9]{3,}"
      val redacted = regexp_replace(
        regexp_replace(col("text"), emailPat, "<EMAIL>"), numPat, "<NUM>")
      t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailPat), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("text"), lit(numPat), lit(0)))
          .cast("long").as("n_num"),
        md5(redacted).as("redacted_md5"))
    }, Oracle(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3,}')) AS BIGINT) AS n_num,
        |  md5(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g')) AS redacted_md5
        |FROM documents""".stripMargin))
  )

  /** SQL fragment: the langId scoring CASE, mirrored from
    * [[TextAnalysis.langId]].
    */
  private def langIdSql: String = {
    val scores = TextAnalysis.stopwords.toSeq.sortBy(_._1).map { case (lang, dict) =>
      val in = dict.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ($in))) AS BIGINT) AS s_$lang"
    }.mkString(",\n    ")
    val zh = "CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS s_zh"
    val langs = (TextAnalysis.stopwords.keys.toSeq.sorted :+ "zh")
    val g = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val cases = langs.map(l => s"WHEN s_$l = g AND g > 0 THEN '$l'").mkString(" ")
    s"""WITH sc AS (
       |  SELECT doc_id, $scores,
       |    $zh
       |  FROM documents),
       |gg AS (SELECT doc_id, sc.*, $g AS g FROM sc)
       |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM gg""".stripMargin
  }
}
