package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.VectorFunctions._
import graft.operators.Similarity

/** Similarity-search inventory over the `embeddings` table
  * (`ARRAY<FLOAT>` × 64). Exact decimal accumulation makes every cosine
  * bit-identical to the DuckDB oracle (which indexes `embedding[j]` via
  * generate_series since it lacks UNNEST WITH ORDINALITY).
  */
object Vector extends QueryModule {

  /** DuckDB mirror of VectorFunctions.scaledSum: fixed-point (2^58)
    * floor-scaled integer sum — bit-identical in any IEEE engine. The sum
    * is re-cast to BIGINT before the DOUBLE conversion: DuckDB's
    * SUM(BIGINT) yields a HUGEINT whose direct →DOUBLE cast double-rounds
    * for |sum| > 2^53 (observed 1-ulp drift vs Java's correctly-rounded
    * long→double), while BIGINT→DOUBLE rounds correctly. */
  private def dkDecSum(x: String): String =
    s"CAST(CAST(SUM(CAST(floor(($x) * 2.88230376151711744e17) AS BIGINT)) AS BIGINT) AS DOUBLE) / 2.88230376151711744e17"

  private val dkNorm2 = s"""
      n2 AS (SELECT vec_id,
        ${dkDecSum("CAST(embedding[g.j] AS DOUBLE) * CAST(embedding[g.j] AS DOUBLE)")} AS n2
      FROM embeddings, generate_series(1, 64) g(j) GROUP BY vec_id)"""

  /** The ONE SemDeDup CTE chain (1 Lloyd iteration quantizer → cell
    * assignment → within-cell cosine → drops(b, dup_of)) shared by q82
    * and q97 — a parity fix applied here reaches every consumer.
    * Requires dkNorm2 in scope; threshold 0.3.
    *
    * k is NOT fixed: the kk CTE derives the quantizer size from
    * COUNT(*) by the SCALING.md occupancy rule (k = smallest power of
    * two holding expected cell size near 256, floored at 8) — a fixed
    * k=8 made the within-cell pair cost Σ|cell|² ≈ n²/8, measured
    * superlinear in the sf1 soak. The integer-exact bit-length
    * derivation matches Similarity.occupancyBits, so both engines train
    * the same k seeds (vec_id < k) at every scale; at every driver gate
    * SF (n <= 2000) kk yields exactly 8 — outputs unchanged.
    *
    * Training is SAMPLED above the gate SFs (tre: vec_id <
    * max(32·k, 20480), mirroring semanticDedup's trainPred — the sf10
    * soak measured the full-corpus training pass pushing q82/q97 past
    * the linear budget); at n ≤ 20480 the cap covers the whole corpus,
    * so gate outputs are bit-identical to full-corpus training. */
  private lazy val dkSemDedup = s"""
      kk AS (SELECT greatest(8, 1 << least(
          length(bin(greatest((COUNT(*) + 255) // 256 - 1, 0))), 20)) AS kv
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, g.j, CAST(embedding[g.j] AS DOUBLE) AS comp
        FROM embeddings, generate_series(1, 64) g(j)
        WHERE vec_id < (SELECT kv FROM kk)),
      tre AS (SELECT * FROM embeddings
        WHERE vec_id < (SELECT greatest(32 * kv, 20480) FROM kk)),
      ${dkKmIter("c0", "c1", "tre")},
      fn2 AS (SELECT cid, ${dkDecSum("comp * comp")} AS cn2 FROM c1 GROUP BY cid),
      fd AS (SELECT e.vec_id, c.cid,
        ${dkDecSum("CAST(e.embedding[c.j] AS DOUBLE) * c.comp")} AS dot
        FROM embeddings e, c1 c GROUP BY e.vec_id, c.cid),
      fassign AS (SELECT vec_id, CAST(cid AS BIGINT) AS cell FROM (
        SELECT fd.vec_id, fd.cid,
          ROW_NUMBER() OVER (PARTITION BY fd.vec_id
            ORDER BY (n.n2 + cn.cn2 - 2.0 * fd.dot), fd.cid) AS rn
        FROM fd JOIN n2 n ON n.vec_id = fd.vec_id
          JOIN fn2 cn ON cn.cid = fd.cid) WHERE rn = 1),
      cand AS (SELECT x.vec_id AS a, y.vec_id AS b
        FROM fassign x JOIN fassign y
          ON x.cell = y.cell AND x.vec_id < y.vec_id),
      dots AS (SELECT c.a, c.b,
        ${dkDecSum("CAST(ea.embedding[g.j] AS DOUBLE) * CAST(eb.embedding[g.j] AS DOUBLE)")} AS dot
        FROM cand c JOIN embeddings ea ON ea.vec_id = c.a
          JOIN embeddings eb ON eb.vec_id = c.b, generate_series(1, 64) g(j)
        GROUP BY c.a, c.b),
      drops AS (SELECT d.b, MIN(d.a) AS dup_of
        FROM dots d JOIN n2 na ON na.vec_id = d.a JOIN n2 nb ON nb.vec_id = d.b
        WHERE d.dot/(sqrt(na.n2)*sqrt(nb.n2)) >= 0.3 GROUP BY d.b)"""

  // the shared DuckDB-mirror hash derivation (DkSql) — same value as
  // Sampling.seededHash
  import DkSql.dkHash

  /** One unrolled Lloyd iteration over long-format centroids `prev`
    * (cid, j, comp) → `next`: fixed-point assignment + per-cell
    * fixed-point means (2^40 scale, same two IEEE divisions as
    * Similarity.kmeansCentroids); empty cells keep their centroid.
    * `src` is the TRAINING relation — `embeddings` for full-corpus
    * training, a hash-sampled CTE for the q128 sampled-training shape
    * (mirrors kmeansCentroids' trainPred). */
  private def dkKmIter(prev: String, next: String,
      src: String): String = s"""
      ${prev}n2 AS (SELECT cid, ${dkDecSum("comp * comp")} AS cn2
        FROM $prev GROUP BY cid),
      ${prev}d AS (SELECT e.vec_id, c.cid,
        ${dkDecSum("CAST(e.embedding[c.j] AS DOUBLE) * c.comp")} AS dot
        FROM $src e, $prev c GROUP BY e.vec_id, c.cid),
      ${prev}a AS (SELECT vec_id, cid AS cell FROM (
        SELECT d.vec_id, d.cid,
          ROW_NUMBER() OVER (PARTITION BY d.vec_id
            ORDER BY (n.n2 + cn.cn2 - 2.0 * d.dot), d.cid) AS rn
        FROM ${prev}d d JOIN n2 n ON n.vec_id = d.vec_id
          JOIN ${prev}n2 cn ON cn.cid = d.cid) WHERE rn = 1),
      $next AS (SELECT c.cid, c.j, COALESCE(m.comp, c.comp) AS comp
        FROM $prev c LEFT JOIN (
          SELECT a.cell AS cid, g.j,
            (CAST(CAST(SUM(CAST(floor(CAST(e.embedding[g.j] AS DOUBLE) * 1099511627776.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
              / 1099511627776.0) / COUNT(*) AS comp
          FROM $src e JOIN ${prev}a a ON a.vec_id = e.vec_id,
            generate_series(1, 64) g(j)
          GROUP BY a.cell, g.j) m ON m.cid = c.cid AND m.j = c.j)"""

  /** The trained-IVF oracle chain: 2 Lloyd iterations on the training
    * relation, full-corpus assignment, nprobe=2, top-3. `sample` is the
    * training CTE's body; None trains on all of `embeddings` (q79). */
  private def dkIvfTrained(sample: Option[String]): String = {
    val src = if (sample.isDefined) "tr" else "embeddings"
    val trCte = sample.fold("")(t => s"\n      tr AS ($t),")
    s"""
      WITH $dkNorm2,$trCte
      c0 AS (SELECT vec_id AS cid, g.j, CAST(embedding[g.j] AS DOUBLE) AS comp
        FROM embeddings, generate_series(1, 64) g(j) WHERE vec_id < 8),
      ${dkKmIter("c0", "c1", src)},
      ${dkKmIter("c1", "c2", src)},
      fn2 AS (SELECT cid, ${dkDecSum("comp * comp")} AS cn2 FROM c2 GROUP BY cid),
      fd AS (SELECT e.vec_id, c.cid,
        ${dkDecSum("CAST(e.embedding[c.j] AS DOUBLE) * c.comp")} AS dot
        FROM embeddings e, c2 c GROUP BY e.vec_id, c.cid),
      fdist AS (SELECT fd.vec_id, fd.cid, (n.n2 + cn.cn2 - 2.0 * fd.dot) AS dist
        FROM fd JOIN n2 n ON n.vec_id = fd.vec_id JOIN fn2 cn ON cn.cid = fd.cid),
      fassign AS (SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM fdist) WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM fdist WHERE vec_id < 8) WHERE rn <= 2),
      cand AS (SELECT p.qid, a.vec_id AS vid, a.cell
        FROM probes p JOIN fassign a ON a.cell = p.cell AND a.vec_id <> p.qid),
      dots AS (SELECT c.qid, c.vid, c.cell,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM cand c JOIN embeddings q ON q.vec_id = c.qid
          JOIN embeddings e ON e.vec_id = c.vid, generate_series(1, 64) g(j)
        GROUP BY c.qid, c.vid, c.cell),
      cos AS (SELECT d.qid, d.vid, d.cell, d.dot/(sqrt(a.n2)*sqrt(b.n2)) AS cosine,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM dots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid)
      SELECT qid, vid, cell, cosine, CAST(rn AS INT) AS rank
      FROM cos WHERE rn <= 3 ORDER BY qid, rank"""
  }

  /** The sample-trained IVF chain (50% md5-hash training slice) — ONE
    * oracle shared by q128 (in-plan quantizer) and q131 (staged index
    * probe): the staged round-trip must change NOTHING about the
    * results, so the same SQL gates both and any staging drift
    * hash-mismatches q131. */
  private lazy val dkIvfSampled: String = dkIvfTrained(Some(s"""SELECT * FROM embeddings
        WHERE ${dkHash("CAST(vec_id AS VARCHAR)", 7)} % 100 < 50"""))

  val all: Seq[Q] = Seq(

    // ---- exact norms via higher-order functions ----
    Q("q34_vector_norms", Some(s"""
      WITH $dkNorm2
      SELECT vec_id, n2 AS norm2, sqrt(n2) AS norm FROM n2 ORDER BY vec_id""")) { (s, d) =>
      Similarity.withNorm2(Tables.embeddings(s, d))
        .select(col("vec_id"), col("n2").as("norm2"), sqrt(col("n2")).as("norm"))
        .orderBy("vec_id")
    },

    // ---- brute-force exact cosine top-5 (broadcast query set) ----
    Q("q35_cosine_topk", Some(s"""
      WITH $dkNorm2,
      dots AS (SELECT q.vec_id AS qid, e.vec_id AS vid,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM embeddings q JOIN embeddings e ON q.vec_id < 8 AND e.vec_id <> q.vec_id,
          generate_series(1, 64) g(j)
        GROUP BY q.vec_id, e.vec_id),
      cos AS (SELECT d.qid, d.vid, d.dot/(sqrt(a.n2)*sqrt(b.n2)) AS cosine,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM dots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid)
      SELECT qid, vid, cosine, CAST(rn AS INT) AS rank
      FROM cos WHERE rn <= 5 ORDER BY qid, rank""")) { (s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), col("vec_id") < 8, k = 5)
        .orderBy("qid", "rank")
    },

    // ---- LSH-bucketed ANN top-3 (the scale path) ----
    Q("q36_ann_lsh_topk", Some(s"""
      WITH w AS (SELECT p.p, j.j,
        (CAST(CAST(('0x'||substr(md5('plane:'||p.p||':'||j.j),1,15)) AS BIGINT) AS DOUBLE)
          / 1152921504606846976.0) * 2.0 - 1.0 AS w
        FROM generate_series(0, 3) p(p), generate_series(1, 64) j(j)),
      pd AS (SELECT e.vec_id, w.p,
        ${dkDecSum("CAST(e.embedding[w.j] AS DOUBLE) * w.w")} AS d
        FROM embeddings e, w GROUP BY e.vec_id, w.p),
      sig AS (SELECT vec_id,
        CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        FROM pd GROUP BY vec_id),
      $dkNorm2,
      cand AS (SELECT q.vec_id AS qid, e.vec_id AS vid, e.bucket
        FROM sig q JOIN sig e
          ON q.vec_id < 8 AND e.bucket = q.bucket AND e.vec_id <> q.vec_id),
      dots AS (SELECT c.qid, c.vid, c.bucket,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM cand c JOIN embeddings q ON q.vec_id = c.qid
          JOIN embeddings e ON e.vec_id = c.vid, generate_series(1, 64) g(j)
        GROUP BY c.qid, c.vid, c.bucket),
      cos AS (SELECT d.qid, d.vid, d.bucket, d.dot/(sqrt(a.n2)*sqrt(b.n2)) AS cosine,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM dots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid)
      SELECT qid, vid, bucket, cosine, CAST(rn AS INT) AS rank
      FROM cos WHERE rn <= 3 ORDER BY qid, rank""")) { (s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), col("vec_id") < 8,
          planes = 4, dim = 64, k = 3)
        .orderBy("qid", "rank")
    },

    // ---- OR-amplified multi-table LSH ANN (the recall knob) ----
    // q36 with the standard L-table amplification: 2 INDEPENDENT 4-plane
    // sets (global plane indices 0-3 and 4-7 of the same md5 family), a
    // candidate qualifies on a bucket match in ANY set, and a pair
    // colliding in several sets is kept only at its first shared set
    // (join residual), so it is scored once. Per-set bucket occupancy
    // is unchanged, so verify cost is ~2× q36 for recall that approaches
    // exact exponentially in the set count — the production answer when
    // q90's recall eval says one table is not enough.
    Q("q120_ann_lsh_multiprobe", Some(s"""
      WITH w AS (SELECT p.p, j.j,
        (CAST(CAST(('0x'||substr(md5('plane:'||p.p||':'||j.j),1,15)) AS BIGINT) AS DOUBLE)
          / 1152921504606846976.0) * 2.0 - 1.0 AS w
        FROM generate_series(0, 7) p(p), generate_series(1, 64) j(j)),
      pd AS (SELECT e.vec_id, w.p,
        ${dkDecSum("CAST(e.embedding[w.j] AS DOUBLE) * w.w")} AS d
        FROM embeddings e, w GROUP BY e.vec_id, w.p),
      sig AS (SELECT vec_id, p // 4 AS bset,
        CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (p % 4)) ELSE 0 END) AS BIGINT) AS bucket
        FROM pd GROUP BY vec_id, p // 4),
      $dkNorm2,
      cand AS (SELECT DISTINCT q.vec_id AS qid, e.vec_id AS vid
        FROM sig q JOIN sig e
          ON q.vec_id < 8 AND e.bset = q.bset AND e.bucket = q.bucket
            AND e.vec_id <> q.vec_id),
      dots AS (SELECT c.qid, c.vid,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM cand c JOIN embeddings q ON q.vec_id = c.qid
          JOIN embeddings e ON e.vec_id = c.vid, generate_series(1, 64) g(j)
        GROUP BY c.qid, c.vid),
      cos AS (SELECT d.qid, d.vid, d.dot/(sqrt(a.n2)*sqrt(b.n2)) AS cosine,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM dots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid)
      SELECT qid, vid, cosine, CAST(rn AS INT) AS rank
      FROM cos WHERE rn <= 3 ORDER BY qid, rank""")) { (s, d) =>
      Similarity.lshTopKMulti(Tables.embeddings(s, d), col("vec_id") < 8,
          planes = 4, dim = 64, k = 3, sets = 2)
        .orderBy("qid", "rank")
    },

    // ---- corpus-vs-corpus ANN (every vector is a query; shuffle path) ----
    // The "find all neighbors of everything" sweep — the job a q119
    // centroid-drift alarm escalates to, and the one shape the broadcast
    // ANN paths cannot run: a corpus-sized query set would OOM every
    // executor's broadcast. broadcastQueries = Some(false) forces the
    // sort-merge bucket join (hinted, so neither the planner's size
    // guess nor AQE can re-broadcast it); both sides shuffle once on
    // (set, bucket) and candidates stay LSH-bounded — never all-pairs.
    // Same signature family, dedup-before-score and ranking contract as
    // q120, so the one oracle chain gates both join strategies.
    Q("q125_ann_corpus_neighbors", Some(s"""
      WITH np AS (SELECT greatest(4,
          length(bin((COUNT(*) + 31) // 32 - 1))) AS p FROM embeddings),
      w AS (SELECT p.p, j.j,
        (CAST(CAST(('0x'||substr(md5('plane:'||p.p||':'||j.j),1,15)) AS BIGINT) AS DOUBLE)
          / 1152921504606846976.0) * 2.0 - 1.0 AS w
        FROM generate_series(0, 63) p(p), generate_series(1, 64) j(j), np
        WHERE p.p < 2 * np.p),
      pd AS (SELECT e.vec_id, w.p,
        ${dkDecSum("CAST(e.embedding[w.j] AS DOUBLE) * w.w")} AS d
        FROM embeddings e, w GROUP BY e.vec_id, w.p),
      sig AS (SELECT vec_id, pd.p // np.p AS bset,
        CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << (pd.p % np.p)) ELSE 0 END) AS BIGINT) AS bucket
        FROM pd, np GROUP BY vec_id, pd.p // np.p),
      $dkNorm2,
      cand AS (SELECT DISTINCT q.vec_id AS qid, e.vec_id AS vid
        FROM sig q JOIN sig e
          ON e.bset = q.bset AND e.bucket = q.bucket
            AND e.vec_id <> q.vec_id),
      dots AS (SELECT c.qid, c.vid,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM cand c JOIN embeddings q ON q.vec_id = c.qid
          JOIN embeddings e ON e.vec_id = c.vid, generate_series(1, 64) g(j)
        GROUP BY c.qid, c.vid),
      cos AS (SELECT d.qid, d.vid, d.dot/(sqrt(a.n2)*sqrt(b.n2)) AS cosine,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM dots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid)
      SELECT qid, vid, cosine, CAST(rn AS INT) AS rank
      FROM cos WHERE rn <= 2 ORDER BY qid, rank""")) { (s, d) =>
      // targetOccupancy engages the planes rule (SCALING.md): every
      // vector is a query here, so candidates are Σ occupancy² over
      // buckets — fixed planes=4 measured 38× for 10× rows in the sf1
      // soak; the rule grows planes with log2(n) to hold occupancy (and
      // per-bucket verify cost) constant. The mirror's np CTE derives
      // the identical plane count from COUNT(*) via the same
      // integer-exact bit-length rule.
      Similarity.lshTopKMulti(Tables.embeddings(s, d), col("vec_id") >= 0,
          planes = 4, dim = 64, k = 2, sets = 2,
          broadcastQueries = Some(false), targetOccupancy = Some(32L))
        .orderBy("qid", "rank")
    },

    // ---- int8 embedding quantization (4× ANN memory/shuffle reduction) ----
    // Symmetric max-abs quantization: scale = 127/max|x|, q_i =
    // floor(x_i·scale + 0.5) ∈ [-127, 127] (floor(+0.5) is the portable
    // round-half-up — both engines' round() differ in tie handling).
    // Approx cosine from integer dot products (exact int64 sums) is
    // gated against the exact fixed-point cosine with a 0.05 tolerance;
    // exact cosines hash-match as scalars.
    Q("q73_int8_quant", Some(s"""
      WITH $dkNorm2,
      sc AS (SELECT vec_id, embedding,
        127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings),
      qv AS (SELECT vec_id, scale,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS q
        FROM sc),
      pairs AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
          a.q AS qa, b.q AS qb, a.scale AS sa, b.scale AS sb
        FROM qv a JOIN qv b ON a.vec_id < 4 AND b.vec_id >= 4 AND b.vec_id < 20),
      dots AS (SELECT p.qid, p.vid,
        (CAST(list_sum(list_transform(generate_series(1, 64),
            i -> p.qa[i] * p.qb[i])) AS DOUBLE) / (p.sa * p.sb)) AS adot,
        (CAST(list_sum(list_transform(generate_series(1, 64),
            i -> p.qa[i] * p.qa[i])) AS DOUBLE) / (p.sa * p.sa)) AS an2a,
        (CAST(list_sum(list_transform(generate_series(1, 64),
            i -> p.qb[i] * p.qb[i])) AS DOUBLE) / (p.sb * p.sb)) AS an2b
        FROM pairs p),
      ex AS (SELECT q.vec_id AS qid, e.vec_id AS vid,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM embeddings q JOIN embeddings e
          ON q.vec_id < 4 AND e.vec_id >= 4 AND e.vec_id < 20,
          generate_series(1, 64) g(j)
        GROUP BY q.vec_id, e.vec_id)
      SELECT d.qid, d.vid,
        ex.dot/(sqrt(a.n2)*sqrt(b.n2)) AS exact_cosine,
        (abs(d.adot/(sqrt(d.an2a)*sqrt(d.an2b))
           - ex.dot/(sqrt(a.n2)*sqrt(b.n2))) <= 0.05) AS approx_ok
      FROM dots d JOIN ex ON ex.qid = d.qid AND ex.vid = d.vid
        JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid
      ORDER BY d.qid, d.vid""")) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val e = Similarity.withNorm2(Tables.embeddings(s, d))
      val dbl = col("embedding").cast("array<double>")
      // try_divide: a zero vector has max|x| = 0 — its quantization scale
      // (and so its whole quantized row) is NULL in both engines (DuckDB's
      // `/` yields NULL on 0; plain `/` here would throw under ANSI)
      val qv = e.select(col("vec_id"), col("embedding"), col("n2"),
        try_divide(lit(127.0), array_max(transform(dbl, x => abs(x)))).as("scale"))
        .withColumn("q", transform(col("embedding").cast("array<double>"),
          x => floor(x * col("scale") + lit(0.5)).cast("long")))
      val a = qv.select(col("vec_id").as("qid"), col("q").as("qa"),
        col("scale").as("sa"), col("embedding").as("emb_a"), col("n2").as("n2a"))
        .filter(col("qid") < 4)
      val b = qv.select(col("vec_id").as("vid"), col("q").as("qb"),
        col("scale").as("sb"), col("embedding").as("emb_b"), col("n2").as("n2b"))
        .filter(col("vid") >= 4 && col("vid") < 20)
      def idot(x: org.apache.spark.sql.Column,
          y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0L), (acc, v) => acc + v)
      a.join(broadcast(b))
        .withColumn("adot", idot(col("qa"), col("qb")).cast("double")
          / (col("sa") * col("sb")))
        .withColumn("an2a", idot(col("qa"), col("qa")).cast("double")
          / (col("sa") * col("sa")))
        .withColumn("an2b", idot(col("qb"), col("qb")).cast("double")
          / (col("sb") * col("sb")))
        .withColumn("exact_cosine", cosineFrom(
          dotExact(col("emb_a"), col("emb_b")), col("n2a"), col("n2b")))
        .select(col("qid"), col("vid"), col("exact_cosine"),
          (abs(col("adot") / (sqrt(col("an2a")) * sqrt(col("an2b")))
            - col("exact_cosine")) <= 0.05).as("approx_ok"))
        .orderBy("qid", "vid")
    },

    // ---- IVF ANN top-3 (inverted-file scale path; see Similarity.ivfTopK) ----
    // Coarse quantizer = deterministic corpus sample (vec_id < 8); every
    // vector assigned to its nearest centroid by exact fixed-point
    // squared-L2 (n2v + n2c − 2·dot — same IEEE ops both engines);
    // queries probe their 2 nearest cells.
    Q("q69_ann_ivf_topk", Some(s"""
      WITH $dkNorm2,
      cents AS (SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < 8),
      cd AS (SELECT e.vec_id, c.cid,
        ${dkDecSum("CAST(e.embedding[g.j] AS DOUBLE) * CAST(c.c_emb[g.j] AS DOUBLE)")} AS dot
        FROM embeddings e, cents c, generate_series(1, 64) g(j)
        GROUP BY e.vec_id, c.cid),
      dist AS (SELECT cd.vec_id, cd.cid, (a.n2 + b.n2 - 2.0 * cd.dot) AS dist
        FROM cd JOIN n2 a ON a.vec_id = cd.vec_id JOIN n2 b ON b.vec_id = cd.cid),
      assign AS (SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM dist) WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, cid AS cell FROM (
        SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM dist WHERE vec_id < 8) WHERE rn <= 2),
      cand AS (SELECT p.qid, a.vec_id AS vid, a.cell
        FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.qid),
      dots AS (SELECT c.qid, c.vid, c.cell,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM cand c JOIN embeddings q ON q.vec_id = c.qid
          JOIN embeddings e ON e.vec_id = c.vid, generate_series(1, 64) g(j)
        GROUP BY c.qid, c.vid, c.cell),
      cos AS (SELECT d.qid, d.vid, d.cell, d.dot/(sqrt(a.n2)*sqrt(b.n2)) AS cosine,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM dots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid)
      SELECT qid, vid, cell, cosine, CAST(rn AS INT) AS rank
      FROM cos WHERE rn <= 3 ORDER BY qid, rank""")) { (s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), col("vec_id") < 8,
          kCentroids = 8, nprobe = 2, k = 3)
        .orderBy("qid", "rank")
    },

    // ---- IVF with a TRAINED quantizer (2 Lloyd iterations) ----
    // Same inverted-file search as q69, but the coarse quantizer is
    // refined by two deterministic k-means iterations (fixed-point
    // assignment + fixed-point means ⇒ bit-identical centroids in both
    // engines; the mirror unrolls the loop as CTE chains c0→c1→c2).
    Q("q79_ann_ivf_trained", Some(dkIvfTrained(None))) { (s, d) =>
      Similarity.ivfTrainedTopK(Tables.embeddings(s, d), col("vec_id") < 8,
          kCentroids = 8, iters = 2, nprobe = 2, k = 3)
        .orderBy("qid", "rank")
    },

    // ---- IVF with SAMPLE-trained quantizer: the 100 TB training shape ----
    // q79 trains its quantizer on the full corpus — iters × full-scan.
    // At 100 TB the quantizer only needs a representative slice: train on
    // a deterministic 50% hash sample (Sampling.hashBucket, q74's md5 —
    // repartition/retry-stable and oracle-mirrorable), then assign and
    // probe the FULL corpus exactly once. Training cost drops by the
    // sample rate with quantizer quality statistically unchanged — FAISS
    // trains IVF on a sample for the same reason (SCALING.md). Same
    // result contract as q79: top-3 neighbors per query from nprobe=2
    // probed cells.
    Q("q128_ann_ivf_sampled", Some(dkIvfSampled)) { (s, d) =>
      Similarity.ivfTrainedTopK(Tables.embeddings(s, d), col("vec_id") < 8,
          kCentroids = 8, iters = 2, nprobe = 2, k = 3,
          trainPred = Some(
            graft.operators.Sampling.hashBucket(col("vec_id"), seed = 7) < 50))
        .orderBy("qid", "rank")
    },

    // ---- STAGED IVF index: the ANN production/ingest shape ----
    // q128 re-trains and re-assigns inside every query plan; production
    // pays that once: Similarity.stageIvfIndex writes centroids + a
    // cell-PARTITIONED assignment table (content-addressed, atomic-rename
    // commit, skip-if-current — the q112 staging contract), each query
    // batch probes it (dynamic partition pruning reads only the probed
    // cells' files — plan-asserted in ScaleSpec), and new batches append
    // via map-only assignment against the frozen centroids
    // (appendToIvfIndex, spec-proven equal to restaging the union).
    // Gated against the SAME oracle as q128: the staged round-trip must
    // be invisible in the results.
    Q("q131_ann_ivf_staged", Some(dkIvfSampled)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      // ivf-v2 = {centroids/, assignment/ hive-partitioned on cell,
      // manifest}; keyed by the embeddings' file listing
      val staged = graft.sources.Layout.stagedSnapshot(emb, "ivf",
          "ivf-v2|k=8|it=2|tp=7:50") { tmp =>
        Similarity.stageIvfIndex(emb, kCentroids = 8, iters = 2, path = tmp,
          trainPred = Some(
            graft.operators.Sampling.hashBucket(col("vec_id"), seed = 7) < 50))
      }
      Similarity.ivfProbeStaged(s, staged,
          Tables.embeddings(s, d).filter(col("vec_id") < 8),
          nprobe = 2, k = 3)
        .orderBy("qid", "rank")
    },

    // ---- SemDeDup-style semantic dedup (cluster-then-dedup) ----
    // The embedding analogue of near-dup text dedup: a trained coarse
    // quantizer (1 Lloyd iteration) partitions the corpus into cells;
    // all-pairs cosine runs WITHIN cells only (Σ|cell|², bounded by
    // k ~ √n — never global n²); every vector with a lower-id cell-mate
    // at cosine ≥ 0.3 is dropped, keep-one = lowest vec_id. The mirror
    // reuses the unrolled fixed-point k-means CTE (c0→c1), so cells,
    // cosines and verdicts are bit-identical.
    Q("q82_semantic_dedup", Some(s"""
      WITH $dkNorm2,
      $dkSemDedup
      SELECT f.vec_id, f.cell, dr.dup_of, dr.dup_of IS NULL AS kept
      FROM fassign f LEFT JOIN drops dr ON dr.b = f.vec_id
      ORDER BY f.vec_id""")) { (s, d) =>
      // targetCell engages the auto-k rule (see dkSemDedup): k = 8 at
      // every gate SF, grows as n/256 rounded up to a power of two —
      // within-cell pair cost stays ~256·n instead of n²/8
      Similarity.semanticDedup(Tables.embeddings(s, d),
          kCentroids = 8, iters = 1, threshold = 0.3,
          targetCell = Some(256L))
        .orderBy("vec_id")
    },

    // ---- ANN quality evaluation: recall@k of LSH vs exact top-k ----
    // The "measure, don't guess" knob for every ANN parameter (planes,
    // nprobe, k): run the approximate index and the brute-force oracle
    // over the SAME query set and report per-query overlap. At corpus
    // scale this is how plane/probe counts get tuned — the eval runs on a
    // small query SAMPLE (broadcast), so the exact side is one bounded
    // corpus pass, not an all-pairs join. Both pipelines are
    // deterministic fixed-point, so recall itself is oracle-exact.
    Q("q90_ann_recall", Some(s"""
      WITH $dkNorm2,
      edots AS (SELECT q.vec_id AS qid, e.vec_id AS vid,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM embeddings q JOIN embeddings e ON q.vec_id < 8 AND e.vec_id <> q.vec_id,
          generate_series(1, 64) g(j)
        GROUP BY q.vec_id, e.vec_id),
      ecos AS (SELECT d.qid, d.vid,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM edots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid),
      ex AS (SELECT qid, vid FROM ecos WHERE rn <= 3),
      w AS (SELECT p.p, j.j,
        (CAST(CAST(('0x'||substr(md5('plane:'||p.p||':'||j.j),1,15)) AS BIGINT) AS DOUBLE)
          / 1152921504606846976.0) * 2.0 - 1.0 AS w
        FROM generate_series(0, 3) p(p), generate_series(1, 64) j(j)),
      pd AS (SELECT e.vec_id, w.p,
        ${dkDecSum("CAST(e.embedding[w.j] AS DOUBLE) * w.w")} AS d
        FROM embeddings e, w GROUP BY e.vec_id, w.p),
      sig AS (SELECT vec_id,
        CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        FROM pd GROUP BY vec_id),
      cand AS (SELECT q.vec_id AS qid, e.vec_id AS vid
        FROM sig q JOIN sig e
          ON q.vec_id < 8 AND e.bucket = q.bucket AND e.vec_id <> q.vec_id),
      adots AS (SELECT c.qid, c.vid,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM cand c JOIN embeddings q ON q.vec_id = c.qid
          JOIN embeddings e ON e.vec_id = c.vid, generate_series(1, 64) g(j)
        GROUP BY c.qid, c.vid),
      acos AS (SELECT d.qid, d.vid,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM adots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid),
      ann AS (SELECT qid, vid FROM acos WHERE rn <= 3),
      qs AS (SELECT DISTINCT qid FROM ex)
      SELECT q.qid, COALESCE(na.n, 0) AS n_ann, COALESCE(nh.n, 0) AS n_hits,
        CAST(COALESCE(nh.n, 0) AS DOUBLE) / 3.0 AS recall
      FROM qs q
      LEFT JOIN (SELECT qid, COUNT(*) AS n FROM ann GROUP BY qid) na
        ON na.qid = q.qid
      LEFT JOIN (SELECT e.qid, COUNT(*) AS n FROM ex e
        JOIN ann a ON a.qid = e.qid AND a.vid = e.vid GROUP BY e.qid) nh
        ON nh.qid = q.qid
      ORDER BY q.qid""")) { (s, d) =>
      // ONE corpus scan: score every (query, vector) pair once (this is
      // exactly the exact side's work), then rank twice over the same
      // frame — globally for the exact top-k, within the same-bucket
      // subset for the ANN top-k. Calling bruteForceTopK + lshTopK
      // separately would scan and norm the corpus twice (diamond
      // subtrees never reuse); here the LSH side costs one extra narrow
      // window, nothing corpus-sized.
      import org.apache.spark.sql.expressions.Window
      val e = Similarity.withNorm2(Tables.embeddings(s, d))
        .withColumn("bucket", lshBucket(col("embedding"), 4, 64))
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
          col("n2").as("q_n2"), col("bucket").as("q_bucket"))
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cosine", cosineFrom(
          dotExact(col("q_emb"), col("embedding")), col("q_n2"), col("n2")))
        .withColumn("inb", col("bucket") === col("q_bucket"))
      val ranked = scored
        .withColumn("e_rank", row_number().over(Window.partitionBy("qid")
          .orderBy(desc("cosine"), asc("vec_id"))))
        .withColumn("a_rank", when(col("inb"),
          row_number().over(Window.partitionBy("qid", "inb")
            .orderBy(desc("cosine"), asc("vec_id")))))
      ranked.groupBy("qid")
        .agg(count(when(col("a_rank") <= 3, 1)).as("n_ann"),
          count(when(col("a_rank") <= 3 && col("e_rank") <= 3, 1)).as("n_hits"))
        .select(col("qid"), col("n_ann"), col("n_hits"),
          (col("n_hits").cast("double") / 3.0).as("recall"))
        .orderBy("qid")
    },

    // ---- hybrid (text × embedding) curation capstone ----
    // The multimodal sibling of q72: a document survives only if the
    // TEXT gates pass (marker-token lang-ID 'en', heuristic quality
    // ≥ 0.5) AND the EMBEDDING side keeps it (SemDeDup verdict over the
    // aligned embeddings table, doc_id = vec_id). One id-equi-join
    // stitches the modalities; both sub-pipelines keep their own scale
    // shapes (per-row text projections; cluster-scoped cosine). This is
    // the production curation chain: cheap text heuristics prune first,
    // semantic dedup arbitrates what survives.
    Q("q97_hybrid_curation", Some(s"""
      WITH $dkNorm2,
      $dkSemDedup,
      f AS (SELECT doc_id, len(string_split(text,' ')) AS n_tokens
        FROM documents
        WHERE len(list_filter(string_split(text,' '),
                t -> t IN ('the','a','of','and','is'))) > 0
          AND least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/100.0)*0.5
            + (1.0 - CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS DOUBLE)
                / len(string_split(text,' ')))*0.3
            + least(1.0, (CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
                / len(string_split(text,' ')))/8.0)*0.2 >= 0.5)
      SELECT f.doc_id, CAST(f.n_tokens AS INT) AS n_tokens, fa.cell
      FROM f JOIN fassign fa ON fa.vec_id = f.doc_id
      WHERE f.doc_id NOT IN (SELECT b FROM drops)
      ORDER BY f.doc_id""")) { (s, d) =>
      import graft.functions.TextFunctions
      val f = Tables.documents(s, d)
        .filter(TextFunctions.langId(col("text")) === "en" &&
          TextFunctions.qualityScore(col("text")) >= 0.5)
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
      val sem = Similarity.semanticDedup(Tables.embeddings(s, d),
          kCentroids = 8, iters = 1, threshold = 0.3,
          targetCell = Some(256L))
        .select(col("vec_id").as("doc_id"), col("cell"), col("kept"))
      // INNER join is the contract, not an accident: the embeddings table
      // covers a subset of documents by design (at sf0.1 only ids < 2000
      // carry vectors), and this query curates exactly the embedded
      // slice — both modalities must vouch for a doc. A raise-on-missing
      // here (tried; reverted) mistakes that subset contract for drift
      // and fails on legitimate corpora; an alignment AUDIT is a separate
      // one-line anti-join the caller runs when full coverage is the
      // expectation.
      f.join(sem, Seq("doc_id")).filter(col("kept"))
        .select(col("doc_id"), col("n_tokens"), col("cell"))
        .orderBy("doc_id")
    },

    // ---- per-label centroids (embedding aggregation) ----
    // The centroid vector is serialized at the SELECT boundary as
    // comma-joined fixed-point integers (floor(comp·2^20)): the driver's
    // pandas gate cannot sort array cells, and double→string formatting is
    // not portable across engines while int64→string is.
    Q("q37_label_centroids", Some(s"""
      WITH ex AS (SELECT label, g.j - 1 AS j, CAST(embedding[g.j] AS DOUBLE) AS x
                  FROM embeddings, generate_series(1, 64) g(j)),
      comp AS (SELECT label, j,
        (CAST(CAST(SUM(CAST(floor(x * 1099511627776.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
          / 1099511627776.0) / COUNT(x) AS comp
        FROM ex GROUP BY label, j)
      SELECT label,
        string_agg(CAST(CAST(floor(comp * 1048576.0) AS BIGINT) AS VARCHAR),
                   ',' ORDER BY j) AS centroid
      FROM comp GROUP BY label ORDER BY label""")) { (s, d) =>
      // One grouped aggregation with an array buffer (FixedPointVectorSum)
      // instead of posexplode + groupBy(label, j): the explode shape
      // multiplies the corpus by its dimensionality (64×) through the
      // exchange; the array aggregate map-side-combines and shuffles one
      // 64-long buffer per (label × partition). Same longs, same math.
      graft.functions.GraftFunctions.register(s)
      Tables.embeddings(s, d)
        .groupBy("label")
        .agg(graft.functions.GraftFunctions.fpVecSum(col("embedding")).as("s"),
          count(lit(1)).as("n"))
        .select(col("label"), array_join(
          transform(col("s"), v =>
            floor(((v.cast("double") / 1099511627776.0) / col("n")) * 1048576.0)
              .cast("long").cast("string")), ",").as("centroid"))
        .orderBy("label")
    },

    // ---- hard-negative mining (contrastive training pairs) ----
    // Top-2 highest-cosine neighbors with a DIFFERENT label per query
    // vector: broadcast query set, label inequality inside the join, one
    // corpus pass (Similarity.hardNegatives).
    Q("q101_hard_negatives", Some(s"""
      WITH $dkNorm2,
      dots AS (SELECT q.vec_id AS qid, q.label AS q_label,
        e.vec_id AS vid, e.label AS neg_label,
        ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM embeddings q JOIN embeddings e
          ON q.vec_id < 8 AND e.vec_id <> q.vec_id AND e.label <> q.label,
          generate_series(1, 64) g(j)
        GROUP BY q.vec_id, q.label, e.vec_id, e.label),
      cos AS (SELECT d.qid, d.q_label, d.vid, d.neg_label,
        d.dot/(sqrt(a.n2)*sqrt(b.n2)) AS cosine,
        ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM dots d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid)
      SELECT qid, q_label, vid, neg_label, cosine, CAST(rn AS INT) AS rank
      FROM cos WHERE rn <= 2 ORDER BY qid, rank""")) { (s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), col("vec_id") < 8, k = 2)
        .orderBy("qid", "rank")
    },

    // ---- embedding outlier detection (distance-to-centroid rank) ----
    // Mislabeled/garbage candidates: the 5 farthest members of each
    // label by exact squared-L2 to the label's fixed-point centroid
    // (Similarity.labelCentroidOutliers). The centroid mean and the
    // n2 + c_n2 − 2·dot distance are the identical IEEE compositions in
    // both engines, so ranks are bit-deterministic.
    Q("q103_centroid_outliers", Some(s"""
      WITH $dkNorm2,
      ex AS (SELECT label, g.j, CAST(embedding[g.j] AS DOUBLE) AS x
             FROM embeddings, generate_series(1, 64) g(j)),
      comp AS (SELECT label, j,
        (CAST(CAST(SUM(CAST(floor(x * 1099511627776.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
          / 1099511627776.0) / COUNT(x) AS comp
        FROM ex GROUP BY label, j),
      cn AS (SELECT label, ${dkDecSum("comp * comp")} AS c_n2
        FROM comp GROUP BY label),
      dt AS (SELECT e.vec_id, e.label,
        ${dkDecSum("CAST(e.embedding[c.j] AS DOUBLE) * c.comp")} AS dot
        FROM embeddings e JOIN comp c ON c.label = e.label
        GROUP BY e.vec_id, e.label),
      dist AS (SELECT d.vec_id, d.label, (n.n2 + cn.c_n2 - 2.0 * d.dot) AS dist2
        FROM dt d JOIN n2 n ON n.vec_id = d.vec_id JOIN cn ON cn.label = d.label),
      r AS (SELECT label, vec_id, dist2,
        ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS rn
        FROM dist)
      SELECT label, vec_id, dist2, CAST(rn AS INT) AS rank
      FROM r WHERE rn <= 5 ORDER BY label, rank""")) { (s, d) =>
      Similarity.labelCentroidOutliers(Tables.embeddings(s, d), topN = 5)
        .orderBy("label", "rank")
    },

    // ---- corpus covariance matrix (PCA / whitening prep) ----
    // Both moments are fixed-point integer sums; the Spark side builds
    // the 2080 upper-triangle products per row and aggregates them in
    // ONE array buffer (Similarity.covarianceMatrix — no dim² explode
    // through the shuffle; the oracle, which has no scale constraint,
    // uses the straightforward pair explode).
    Q("q107_embedding_covariance", Some("""
      WITH ex AS (SELECT gi.i AS i, gj.j AS j,
          CAST(e.embedding[gi.i+1] AS DOUBLE) * CAST(e.embedding[gj.j+1] AS DOUBLE) AS p
        FROM embeddings e, generate_series(0, 63) gi(i), generate_series(0, 63) gj(j)
        WHERE gj.j >= gi.i),
      sp AS (SELECT i, j,
          (CAST(CAST(SUM(CAST(floor(p * 1048576.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
            / 1048576.0) / COUNT(*) AS m2
        FROM ex GROUP BY i, j),
      mn AS (SELECT g.i AS i,
          (CAST(CAST(SUM(CAST(floor(CAST(e.embedding[g.i+1] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
            / 1073741824.0) / COUNT(*) AS mean
        FROM embeddings e, generate_series(0, 63) g(i) GROUP BY g.i)
      SELECT CAST(sp.i AS INT) AS i, CAST(sp.j AS INT) AS j,
        sp.m2 - mi.mean * mj.mean AS cov
      FROM sp JOIN mn mi ON mi.i = sp.i JOIN mn mj ON mj.i = sp.j
      ORDER BY i, j""")) { (s, d) =>
      Similarity.covarianceMatrix(Tables.embeddings(s, d), dim = 64)
        .orderBy("i", "j")
    },

    // ---- per-label embedding centroid drift between snapshots ----
    // The embedding twin of q116's token drift: did a label's centroid
    // MOVE between the old corpus slice (vec_id < 250) and the new one?
    // (Re-embed / upstream-model / data-mix changes all show up here
    // first.) Centroids are the q37 fixed-point aggregates; each is
    // floored onto the 2^20 grid BEFORE differencing, so the squared-L2
    // shift is an exact integer both engines compute identically — one
    // double division at the end. Two label-count-sized frames meet in
    // one equi-join; only labels present in BOTH slices report.
    Q("q119_centroid_drift", Some(s"""
      WITH ex AS (SELECT label, (vec_id < 250) AS old, g.j - 1 AS j,
          CAST(embedding[g.j] AS DOUBLE) AS x
        FROM embeddings, generate_series(1, 64) g(j)),
      comp AS (SELECT label, old, j,
          CAST(floor(((CAST(CAST(SUM(CAST(floor(x * 1099511627776.0) AS BIGINT))
              AS BIGINT) AS DOUBLE) / 1099511627776.0) / COUNT(x))
            * 1048576.0) AS BIGINT) AS f
        FROM ex GROUP BY label, old, j),
      d AS (SELECT o.label, (o.f - n.f) AS df
        FROM comp o JOIN comp n ON n.label = o.label AND n.j = o.j
        WHERE o.old AND NOT n.old)
      SELECT label, CAST(SUM(df * df) AS BIGINT) AS dist2_fp,
        CAST(SUM(df * df) AS DOUBLE) / 1099511627776.0 AS drift
      FROM d GROUP BY label ORDER BY label""")) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      def gridCentroids(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("label")
        .agg(graft.functions.GraftFunctions.fpVecSum(col("embedding")).as("s"),
          count(lit(1)).as("n"))
        .select(col("label"), transform(col("s"), v =>
          floor(((v.cast("double") / 1099511627776.0) / col("n")) * 1048576.0)
            .cast("long")).as("f"))
      val emb = Tables.embeddings(s, d)
      val o = gridCentroids(emb.filter(col("vec_id") < 250))
        .withColumnRenamed("f", "fo")
      val n = gridCentroids(emb.filter(col("vec_id") >= 250))
        .withColumnRenamed("f", "fn")
      o.join(n, "label")
        .select(col("label"),
          aggregate(zip_with(col("fo"), col("fn"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("dist2_fp"))
        .withColumn("drift", col("dist2_fp").cast("double") / 1099511627776.0)
        .orderBy("label")
    },

    // ---- dominant principal direction (fixed-point power iteration) ----
    // The PCA/whitening prep on top of q107's covariance: which single
    // direction carries the most variance, and how big is it (the
    // anisotropy/embedding-collapse monitor — a healthy space spreads
    // variance; a collapsed one puts it all here). One corpus pass
    // builds the covariance (array-buffer aggregate); the three matvec
    // rounds then touch only matrix-sized frames (4096 triples × 64-row
    // vectors, join+groupBy — distributed, nothing collected). The cov
    // doubles are floored onto the 2^20 grid BEFORE iterating so every
    // matvec sum is an exact int64 reduction and every normalization is
    // integer (sign·(|w| DIV ceil(max|w|/2^20))) — bit-identical across
    // engines by construction; the only doubles are the two final
    // divisions. Oracle: the same chain as an unrolled CTE.
    Q("q133_principal_direction", Some {
      def iter(k: Int): String = s"""
      w$k AS (SELECT cf.i AS i, CAST(SUM(cf.c * v${k - 1}.v) AS BIGINT) AS w
        FROM cf JOIN v${k - 1} ON v${k - 1}.i = cf.j GROUP BY 1),
      m$k AS (SELECT MAX(abs(w)) AS m FROM w$k),
      v$k AS (SELECT i, CAST(CASE WHEN w < 0
          THEN -((-w) // ((m + 1048575) // 1048576))
          ELSE w // ((m + 1048575) // 1048576) END AS BIGINT) AS v
        FROM w$k, m$k)"""
      s"""
      WITH ex AS (SELECT gi.i AS i, gj.j AS j,
          CAST(e.embedding[gi.i+1] AS DOUBLE) * CAST(e.embedding[gj.j+1] AS DOUBLE) AS p
        FROM embeddings e, generate_series(0, 63) gi(i), generate_series(0, 63) gj(j)
        WHERE gj.j >= gi.i),
      sp AS (SELECT i, j,
          (CAST(CAST(SUM(CAST(floor(p * 1048576.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
            / 1048576.0) / COUNT(*) AS m2
        FROM ex GROUP BY i, j),
      mn AS (SELECT g.i AS i,
          (CAST(CAST(SUM(CAST(floor(CAST(e.embedding[g.i+1] AS DOUBLE) * 1073741824.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
            / 1073741824.0) / COUNT(*) AS mean
        FROM embeddings e, generate_series(0, 63) g(i) GROUP BY g.i),
      cv AS (SELECT sp.i AS i, sp.j AS j,
          CAST(floor((sp.m2 - mi.mean * mj.mean) * 1048576.0) AS BIGINT) AS c
        FROM sp JOIN mn mi ON mi.i = sp.i JOIN mn mj ON mj.i = sp.j),
      cf AS (SELECT i, j, c FROM cv
        UNION ALL SELECT j AS i, i AS j, c FROM cv WHERE i <> j),
      v0 AS (SELECT g.i AS i, CAST(1048576 AS BIGINT) AS v
        FROM generate_series(0, 63) g(i)),
      ${iter(1)},
      ${iter(2)},
      ${iter(3)}
      SELECT CAST(v3.i AS INT) AS dim_idx, v3.v AS component,
        CAST(v3.v AS DOUBLE) / 1048576.0 AS loading,
        CAST(m3.m AS DOUBLE) / 1099511627776.0 AS eig_est
      FROM v3, m3 ORDER BY dim_idx"""
    }) { (s, d) =>
      Similarity.dominantDirection(Tables.embeddings(s, d), dim = 64, iters = 3)
    },

    // ---- truncated-dimension (Matryoshka) retrieval eval ----
    // How much retrieval quality survives keeping only the FIRST 16 of
    // 64 embedding dims? (Prefix truncation is the standard
    // dimension/cost knob for MRL-style embeddings — 4× less storage,
    // 4× cheaper dots — and this is the eval that says whether a given
    // model's prefix carries the ranking.) Same one-scan shape as q90:
    // every (query, candidate) pair is scored ONCE carrying both the
    // full and the truncated fixed-point cosine, then two narrow rank
    // windows over the same frame — the truncated eval adds zero extra
    // corpus passes. recall@10 per query = |top10_full ∩ top10_trunc|/10.
    Q("q134_matryoshka_recall", Some(s"""
      WITH $dkNorm2,
      n2t AS (SELECT vec_id,
        ${dkDecSum("CAST(embedding[g.j] AS DOUBLE) * CAST(embedding[g.j] AS DOUBLE)")} AS n2t
        FROM embeddings, generate_series(1, 16) g(j) GROUP BY vec_id),
      fd AS (SELECT q.vec_id AS qid, e.vec_id AS vid,
          ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM embeddings q JOIN embeddings e ON q.vec_id < 8 AND e.vec_id <> q.vec_id,
          generate_series(1, 64) g(j) GROUP BY 1, 2),
      td AS (SELECT q.vec_id AS qid, e.vec_id AS vid,
          ${dkDecSum("CAST(q.embedding[g.j] AS DOUBLE) * CAST(e.embedding[g.j] AS DOUBLE)")} AS dot
        FROM embeddings q JOIN embeddings e ON q.vec_id < 8 AND e.vec_id <> q.vec_id,
          generate_series(1, 16) g(j) GROUP BY 1, 2),
      fr AS (SELECT d.qid, d.vid, ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2)*sqrt(b.n2)) DESC, d.vid) AS rn
        FROM fd d JOIN n2 a ON a.vec_id = d.qid JOIN n2 b ON b.vec_id = d.vid),
      tr AS (SELECT d.qid, d.vid, ROW_NUMBER() OVER (PARTITION BY d.qid
          ORDER BY d.dot/(sqrt(a.n2t)*sqrt(b.n2t)) DESC, d.vid) AS rn
        FROM td d JOIN n2t a ON a.vec_id = d.qid JOIN n2t b ON b.vec_id = d.vid),
      qs AS (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 8),
      hits AS (SELECT f.qid, COUNT(*) AS n FROM fr f
        JOIN tr t ON t.qid = f.qid AND t.vid = f.vid
        WHERE f.rn <= 10 AND t.rn <= 10 GROUP BY f.qid)
      SELECT q.qid, COALESCE(h.n, 0) AS n_hits,
        CAST(COALESCE(h.n, 0) AS DOUBLE) / 10.0 AS recall_trunc
      FROM qs q LEFT JOIN hits h ON h.qid = q.qid ORDER BY q.qid""")) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.register(s)
      val base = Tables.embeddings(s, d)
        .withColumn("n2", norm2Exact(col("embedding")))
        .withColumn("t_emb", slice(col("embedding"), 1, 16))
        .withColumn("n2t", norm2Exact(col("t_emb")))
      val q = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
          col("n2").as("q_n2"), col("t_emb").as("q_t"), col("n2t").as("q_n2t"))
      val scored = base.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos_full", cosineFrom(
          dotExact(col("q_emb"), col("embedding")), col("q_n2"), col("n2")))
        .withColumn("cos_tr", cosineFrom(
          dotExact(col("q_t"), col("t_emb")), col("q_n2t"), col("n2t")))
      val ranked = scored
        .withColumn("f_rank", row_number().over(Window.partitionBy("qid")
          .orderBy(desc("cos_full"), asc("vec_id"))))
        .withColumn("t_rank", row_number().over(Window.partitionBy("qid")
          .orderBy(desc("cos_tr"), asc("vec_id"))))
      ranked.groupBy("qid")
        .agg(count(when(col("f_rank") <= 10 && col("t_rank") <= 10, 1)).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          (col("n_hits").cast("double") / 10.0).as("recall_trunc"))
        .orderBy("qid")
    }
  )
}
