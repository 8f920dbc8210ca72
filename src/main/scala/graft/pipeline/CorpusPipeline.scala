package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{Lake, TableMeta}
import graft.operators.{Dedup, Sampling, TextAnalysis}

/** End-to-end training-data curation pipeline over a document corpus —
  * the LLM-data analogue of [[DailyPipeline]] (which orchestrates the
  * reference's daily DAG). No reference counterpart: this wires the
  * SURVEY §7 extension operators into the deployment shape they are
  * designed for:
  *
  *   annotate (langid / quality / tokens / fingerprint / unigram-LM score)
  *     → exact dedup → near-dup pairs (MinHash+LSH, exact-verified)
  *     → connected-components canonicalization
  *     → keep cluster representatives
  *     → C4-style duplicate-segment scrub of the kept text
  *     → stratified sample
  *     → corpus stats rollup
  *     → (optional) eval-set decontamination report vs the scrubbed corpus
  *
  * All stages are the already-oracle-verified operators; the pipeline
  * writes each table once through [[Lake.replace]], like the financial
  * DAG's backfill, so curation output is a queryable lakehouse table set.
  * Every stage is shuffle-bounded (hash shuffles + banded joins, no
  * all-pairs work) — the 100 TB shape end to end.
  */
class CorpusPipeline(spark: SparkSession, lake: Lake) {

  private val S = StringType; private val L = LongType
  private val F = DoubleType; private val B = BooleanType

  private def tm(name: String, cols: (String, DataType)*)(pk: String*) =
    TableMeta(name, StructType(cols.map { case (n, t) => StructField(n, t) }),
      Seq.empty, pk.toSeq)

  val tables: Seq[TableMeta] = Seq(
    tm("doc_annotations", "doc_id" -> L, "lang" -> S, "n_tokens" -> L,
      "quality" -> F, "fingerprint" -> S, "lm_score" -> F,
      "repetitive" -> B)("doc_id"),
    tm("doc_clusters", "doc_id" -> L, "canon_id" -> L, "is_dup" -> B)("doc_id"),
    tm("corpus_sample", "doc_id" -> L, "lang" -> S, "text" -> S)("doc_id"),
    tm("corpus_stats", "lang" -> S, "n_docs" -> L, "n_kept" -> L,
      "n_sampled" -> L, "sum_tokens" -> L)("lang"),
    tm("eval_contamination", "doc_id" -> L, "n_grams" -> L, "n_hits" -> L,
      "ratio" -> F)("doc_id"))

  private def meta(name: String): TableMeta = tables.find(_.name == name).get
  private def replace(name: String, df: DataFrame): Unit = lake.replace(meta(name), df)

  /** Run the full curation DAG over `docs` (doc_id, text). Sample rates
    * are per-language fractions; `defaultRate` covers absent languages.
    * When `evalDocs` is given, a 5-gram leakage report of that held-out
    * set against the kept (post-dedup) corpus lands in
    * `eval_contamination`; without it that table is created empty.
    */
  def run(docs: DataFrame, rates: Map[String, Double],
      defaultRate: Double, evalDocs: Option[DataFrame] = None): Unit = {
    // 1. annotate — a narrow per-row pass plus the unigram-LM score
    // (vocabulary join; see TextAnalysis.unigramLogProb's scale notes)
    val annotated = TextAnalysis.qualityFeatures(docs, "text").select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      col("quality_score").as("quality"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .join(TextAnalysis.unigramLogProb(docs, "doc_id", "text")
        .select(col("doc_id"), col("avg_logprob").as("lm_score")),
        Seq("doc_id"), "left")
      .join(TextAnalysis.repetitionMetrics(docs, "doc_id", "text")
        .select(col("doc_id"), col("repetitive")),
        Seq("doc_id"), "left")
      // a doc with NULL text yields no gram rows and no repetition row;
      // null is NOT repetitive (the gate below must not silently drop it)
      .withColumn("repetitive", coalesce(col("repetitive"), lit(false)))
    replace("doc_annotations", annotated)

    // 2. near-dup clusters: exact dups collapse through the same pair
    // graph (identical texts share every band), so one canonicalization
    // covers both exact and near duplicates
    val pairs = Dedup.minHashLsh(docs, "doc_id", "text", 3, 64, 16, 0.5)
    val clusters = Dedup.canonicalize(docs, "doc_id", pairs)
    replace("doc_clusters", clusters)

    // 3. keep one representative per cluster, drop repetitious docs
    // (Gopher-style filter), then language-stratified deterministic
    // sample of the kept docs
    // one annotations join serves both the repetition gate and the
    // language tag (repetitive is never null: annotate coalesces it)
    val kept = docs
      .join(lake.table("doc_clusters").filter(!col("is_dup")).select("doc_id"),
        "doc_id")
      .join(lake.table("doc_annotations").filter(!col("repetitive"))
        .select("doc_id", "lang"), "doc_id")
    // 3b. C4-style segment scrub across the KEPT corpus: duplicate k-word
    // segments are removed (first occurrence wins), so boilerplate that
    // survives document-level dedup — shared headers, repeated passages —
    // is struck from the text itself; docs scrubbed down to nothing drop
    // out entirely
    val scrubbed = Dedup.segmentDedup(kept, "doc_id", "text", 10)
      .filter(col("n_kept") > 0)
      .select(col("id").as("doc_id"), col("kept_text").as("text"))
    val kept2 = kept.drop("text").join(scrubbed, "doc_id")
    val sampled = Sampling.stratifiedSample(
      kept2, "doc_id", col("lang"), rates, defaultRate)
    replace("corpus_sample", sampled.select("doc_id", "lang", "text"))

    // 4. rollup: corpus → kept → sampled funnel per language
    val ann = lake.table("doc_annotations")
    val stats = ann
      .join(lake.table("doc_clusters").select("doc_id", "is_dup"), "doc_id")
      .join(lake.table("corpus_sample").select(col("doc_id"), lit(1).as("s")),
        Seq("doc_id"), "left")
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("is_dup") && !col("repetitive"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("s").isNotNull, 1L).otherwise(0L)).as("n_sampled"),
        sum(col("n_tokens")).as("sum_tokens"))
    replace("corpus_stats", stats)

    // 5. split hygiene: report each eval doc's 5-gram leakage against the
    // kept training corpus (the set a model would actually train on)
    evalDocs match {
      // the scrubbed corpus is what a model would actually train on
      case Some(ev) => replace("eval_contamination",
        Dedup.contamination(kept2, ev, "doc_id", "text", 5))
      case None => lake.create(meta("eval_contamination"), "replace")
    }
  }
}
