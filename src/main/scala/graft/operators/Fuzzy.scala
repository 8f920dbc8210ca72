package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy (edit-distance) matching — the entity-resolution primitive a
  * curation pipeline needs for joining noisy identifiers (near-identical
  * titles, URLs, author names) that exact keys miss.
  *
  * An all-pairs Levenshtein scan is quadratic; the standard scale shape
  * is *blocking* + *verification*. Blocking here is the length band: two
  * strings within edit distance `d` cannot differ in length by more than
  * `d`, so only pairs whose lengths fall in the same ±d band are
  * candidates. The left side replicates to its 2d+1 candidate length
  * buckets (a narrow explode), both sides hash-shuffle on the bucket,
  * and candidates verify with Spark's banded three-argument
  * `levenshtein` (O(d·n) with early exit, not O(n²)).
  *
  * Length is a coarse key on uniform corpora — one popular length
  * serializes its bucket's verification. The operator accepts extra
  * `blockCols` (e.g. a source/domain column, a first-token key, a
  * q-gram-count band) that compose into the bucket key; at 100 TB you
  * block on (length band, cheap content key) exactly like the LSH band
  * joins.
  */
object Fuzzy {

  /** Self-join: pairs `(a, b, dist)` with `a < b` on the key and
    * `levenshtein(text_a, text_b) <= maxDist`. `blockCols` optionally
    * tighten the blocking key (pairs must then agree on them exactly).
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, blockCols: Seq[String] = Nil): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(!Seq("_len", "_blk").exists(df.columns.contains),
      "input must not already contain _len/_blk")
    val base = df.select((col(idCol).as("_fid") +: col(textCol).as("_ftx") +:
      blockCols.map(col)): _*).withColumn("_len", length(col("_ftx")))
    // left replicates to every length bucket a match could live in;
    // right keeps its exact length -> every qualifying pair meets in
    // exactly one bucket (the right row's length), so no dedup is needed
    val lhs = base.withColumn("_blk",
      explode(sequence(col("_len") - maxDist, col("_len") + maxDist)))
    val rhs = base.withColumn("_blk", col("_len"))
    val joinKeys = "_blk" +: blockCols
    val cand = lhs.select(
        (col("_fid").as("a") +: col("_ftx").as("_ta") +: joinKeys.map(col)): _*)
      .join(rhs.select(
        (col("_fid").as("b") +: col("_ftx").as("_tb") +: joinKeys.map(col)): _*),
        joinKeys)
      .filter(col("a") < col("b"))
    cand.select(col("a"), col("b"),
        levenshtein(col("_ta"), col("_tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0) // -1 = early-exited above the threshold
  }

  /** One round of single-character deletions over an array of strings:
    * each string contributes itself plus every delete-one variant,
    * deduplicated. Pure native expressions (transform/sequence/substr),
    * so the whole neighborhood generation stays inside codegen.
    */
  private def delOnce(arr: Column): Column =
    array_distinct(flatten(transform(arr, s => {
      // greatest(..,1) keeps the sequence ascending when s is empty
      // (Spark's sequence(1,0) would DESCEND), and the filter then drops
      // the out-of-range position so "" maps to itself alone
      val idx = filter(sequence(lit(1), greatest(length(s), lit(1))),
        i => i <= length(s))
      array_union(array(s), transform(idx, i =>
        concat(s.substr(lit(1), i - lit(1)),
          s.substr(i + lit(1), length(s) - i))))
    })))

  /** Self-join fuzzy match via DELETION-NEIGHBORHOOD blocking (the
    * FastSS / SymSpell family: Bocek et al. 2007, "Fast Similarity
    * Search in Large Dictionaries"): two strings within edit distance d
    * share at least one common member of their <=d-deletion
    * neighborhoods, so the block key is the variant string itself and
    * only neighborhood collisions are verified.
    *
    * This exists because length-band blocking degenerates on
    * FIXED-FORMAT identifiers: a corpus whose strings all share one
    * length (serial numbers, zero-padded codes, TPC-H names) puts the
    * entire table in a single band, and candidates grow quadratically
    * no matter how the bucket is salted — measured in docs/SCALING.md
    * (under all-18-char supplier names the band form hit 53s at 30x
    * against this form's 7.7s, with candidate pairs ∝ N² by
    * construction).
    * Deletion variants key on CONTENT, so bucket occupancy tracks true
    * near-match density: candidates stay ~linear on any corpus whose
    * duplicate clusters are bounded, at the cost of l^d variants per
    * string per side — the right trade for the short identifier strings
    * entity resolution actually matches (and capped here at d <= 2;
    * longer strings + larger d belong to [[editDistancePairs]] with
    * content `blockCols`).
    *
    * Output contract matches [[editDistancePairs]]: `(a, b, dist)` with
    * `a < b`, `dist <= maxDist`, exact (blocking is complete: an edit
    * script of k <= d ops yields <= d deletions on each side reaching a
    * common subsequence). Hot variant buckets (exact-duplicate
    * clusters) are salted by the shared [[Dedup.bandedPairs]] spine.
    */
  def deletePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, hotWidth: Int = 4096): DataFrame = {
    require(maxDist >= 0 && maxDist <= 2,
      "deletion-neighborhood blocking is for maxDist 0..2; use " +
        "editDistancePairs with blockCols beyond that")
    val base = df.select(col(idCol).as("id"), col(textCol).as("_ftx"))
    val variants = (1 to maxDist).foldLeft(array(col("_ftx")))(
      (a, _) => delOnce(a))
    val keyed = base.select(col("id"), col("_ftx"),
      explode(variants).as("_vkey"))
    Dedup.bandedPairs(keyed, Seq("_vkey"), hotWidth,
        carry = Seq(("_ftx", "_ta", "_tb")))
      .select(col("a"), col("b"),
        levenshtein(col("_ta"), col("_tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0) // -1 = early-exited above the threshold
  }
}
