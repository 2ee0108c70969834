package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFns._

/** Similarity search over the `embeddings` table (`vec_id, embedding:
  * array<float>, label`) — the ANN surface of the training-data pipeline.
  *
  *  - [[annCosineTopk]] — brute-force exact top-k against a query vector:
  *    the correctness baseline. One broadcast of the (1-row) query, one
  *    map-only cosine pass, `TakeOrderedAndProject` top-k — no shuffle of
  *    the corpus at any scale.
  *  - [[annTopkByLabel]] — partitioned top-k (per-label window), the
  *    grouped-ANN shape.
  *  - [[annLshHistogram]] — sign-LSH (random-hyperplane) bucket histogram:
  *    the data layout a bucketed ANN index maintains.
  *  - [[annLshTopk]] — the 100 TB search path: probe only the query's LSH
  *    bucket ring (hamming ≤ 2 multiprobe), exact re-rank inside it. Cost
  *    per query is |bucket ring|, not |corpus|. Rows-only oracle; recall
  *    vs the brute-force baseline is asserted in SimilaritySpec.
  *
  * All cosine math is dyadic fixed-point (VectorFns) — exact integer sums,
  * so even float outputs hash-match the DuckDB oracle bit-for-bit.
  */
object Similarity {
  private type Q = (SparkSession, String) => DataFrame

  private[operators] val QueryVec = 0L
  private val LshBits = 8

  /** Where the learned-parameter queries publish their trained state for
    * the DuckDB oracle. K-means centroids/assignments and PQ codebooks/
    * codes are ENGINE-side learned parameters — an independent engine
    * cannot re-derive them bit-for-bit (iterative float fits) — but
    * everything downstream of them is exact fixed-point arithmetic. So
    * the query declares the learned state AS DATA (tiny parquet files,
    * overwritten per invocation) and the oracle replays the full search
    * semantics from it: probe selection, candidate pruning, ADC scoring,
    * exact re-rank, top-k order — the same declared-parameter discipline
    * as `dedup_minhash_cap_report`.
    *
    * PER-PROCESS dir (not a fixed path): the oracle SQL below embeds
    * this value at class-init, and `Verify` dumps that SQL for the
    * driver's DuckDB run — so within one process the writer and the SQL
    * always agree, while concurrent verify/bench JVMs on one box can no
    * longer clobber each other's learned state (the fixed path assumed
    * single-writer without enforcing it). The params must OUTLIVE the
    * JVM (DuckDB replays them after `Verify` exits), so cleanup is not a
    * shutdown hook: each new process sweeps sibling run dirs older than
    * six hours — far past any driver's verify→oracle window — bounding
    * /tmp accretion without racing a live replay. Overridable via
    * -Dgraft.oracleParamsDir for callers that pin placement.
    */
  private[graft] lazy val OracleParamsDir: String =
    sys.props.get("graft.oracleParamsDir").getOrElse {
      val base = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_oracle_params")
      if (java.nio.file.Files.isDirectory(base)) {
        val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
        val it = java.nio.file.Files.list(base)
        try it.forEach { p =>
          // liveness first, age second: a still-running sibling JVM whose
          // last params write is >6h old (plausible for sf100-scale
          // soak+bench sequences) must keep its declared state until its
          // own DuckDB replay runs — the age check only reaps dirs whose
          // embedded PID is dead or reused by a process we can't see
          val ownerAlive = p.getFileName.toString.stripPrefix("p").toLongOption
            .exists(pid => ProcessHandle.of(pid)
              .map[Boolean](_.isAlive).orElse(false))
          // a sibling's own sweep (or its exit cleanup) can delete an
          // entry between our list() and this stat — a vanished dir needs
          // no reaping, so skip it instead of dying at class-init (the
          // r18-entry bench was killed by exactly this TOCTOU)
          val mtime =
            try Some(java.nio.file.Files.getLastModifiedTime(p).toMillis)
            catch { case _: java.io.IOException => None }
          if (!ownerAlive && mtime.exists(_ < cutoff))
            graft.Shared.deleteDirTree(p.toString)
        } finally it.close()
      }
      s"$base/p${ProcessHandle.current().pid()}"
    }

  /** Cosine via the native codegen expression (graft.functions.CosineFxExpr)
    * — bit-identical to VectorFns.cosineFx (parity-tested) but runs as one
    * fused loop inside whole-stage codegen instead of interpreted HOFs.
    */
  private[operators] def cosNative(s: SparkSession,
                        a: org.apache.spark.sql.Column,
                        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    graft.functions.CosineFxExpr.register(s)
    call_function("cosine_fx", a, b)
  }

  private[operators] def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), fixedPoint(col("embedding")).as("v"))

  private def queryRow(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).filter(col("vec_id") === QueryVec).select(col("v").as("qv"))

  /** Corpus with exact cosine vs the fixed query vector. */
  private def scored(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .filter(col("vec_id") =!= QueryVec)
      .crossJoin(broadcast(queryRow(s, dir)))
      .withColumn("cosine", cosNative(s, col("v"), col("qv")))

  // ---------------------------------------------------------- brute top-k
  def annCosineTopk(s: SparkSession, dir: String): DataFrame =
    scored(s, dir)
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)

  /** Exact brute-force top-k for an ARBITRARY query vector — the ground
    * truth the recall probes (`graft.VecRecallProbe`) measure the ANN
    * serving paths against. Same fixed-point cosine and (cos desc, id)
    * tie-break as every serving path here, so recall is measured against
    * the engine's own exact answer, bit-reproducibly.
    */
  private[graft] def bruteTopkForVec(s: SparkSession, dir: String,
                                     qvec: Array[Double], k: Int = 10): DataFrame =
    corpus(s, dir)
      .withColumn("qv", typedLit(qvec.map(fxLong)))
      .withColumn("cosine", cosNative(s, col("v"), col("qv")))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)

  // DuckDB-side fixed-point componentization shared by the oracles.
  // generate_subscripts is 1-based; i0 aligns with Spark's 0-based lambdas.
  private[operators] val compCte =
    """WITH comp AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS i0,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS x
      |  FROM embeddings),
      |norms AS (SELECT vec_id, SUM(x*x) AS nx FROM comp GROUP BY vec_id),
      |q AS (SELECT i0, x AS qx FROM comp WHERE vec_id = 0),
      |nq AS (SELECT nx AS nqv FROM norms WHERE vec_id = 0),
      |dots AS (
      |  SELECT c.vec_id, SUM(c.x * q.qx) AS dot
      |  FROM comp c JOIN q USING (i0) WHERE c.vec_id <> 0 GROUP BY c.vec_id),
      |cos AS (
      |  SELECT d.vec_id,
      |         CAST(d.dot AS DOUBLE) / sqrt(CAST(n.nx AS DOUBLE) * CAST(nq.nqv AS DOUBLE)) AS cosine
      |  FROM dots d JOIN norms n ON n.vec_id = d.vec_id, nq)""".stripMargin

  private val annCosineTopkSql =
    s"""$compCte
       |SELECT vec_id, cosine FROM cos ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  // ---------------------------------------------------- cosine range search
  /** Radius query: every corpus vector with cosine ≥ τ of the query — the
    * recall-oriented companion to [[annCosineTopk]] (retrieval that wants
    * "everything at least this close", not a fixed k). Same scale shape as
    * the brute top-k: one broadcast 1-row query, one map-only fused-codegen
    * cosine pass, and the τ-filter prunes before the (small-result) sort,
    * so the corpus is never shuffled. At 100 TB the identical predicate
    * runs over [[annLshTopk]]'s bucket layout instead, probing only codes
    * whose hyperplane margin can still reach τ.
    */
  private val RangeTau = 0.15

  def annRangeSearch(s: SparkSession, dir: String): DataFrame =
    scored(s, dir)
      .filter(col("cosine") >= RangeTau)
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))

  private val annRangeSearchSql =
    s"""$compCte
       |SELECT vec_id, cosine FROM cos WHERE cosine >= $RangeTau
       |ORDER BY cosine DESC, vec_id""".stripMargin

  // ----------------------------------------------------- per-label top-k
  def annTopkByLabel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("label")).orderBy(col("cosine").desc, col("vec_id"))
    scored(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("label"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy(col("label"), col("rn"))
  }

  private val annTopkByLabelSql =
    s"""$compCte, lab AS (
       |  SELECT c.label, c.vec_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY c.label ORDER BY cosine DESC, c.vec_id) AS rn
       |  FROM cos JOIN (SELECT DISTINCT vec_id, label FROM comp) c USING (vec_id))
       |SELECT label, rn, vec_id, cosine FROM lab WHERE rn <= 3 ORDER BY label, rn""".stripMargin

  // -------------------------------------------------------- LSH histogram
  def annLshHistogram(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir)
      .withColumn("code", lshCode(col("v"), LshBits))
      .groupBy(col("code"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("code"))

  private val annLshHistogramSql =
    """WITH comp AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i0,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS x
      |  FROM embeddings),
      |proj AS (
      |  SELECT c.vec_id, j,
      |         SUM(c.x * (CASE WHEN (c.i0 * 31 + j * 17) % 7 < 3 THEN 1 ELSE -1 END)) AS dot
      |  FROM comp c, generate_series(0, 7) AS t(j)
      |  GROUP BY c.vec_id, j),
      |codes AS (
      |  SELECT vec_id,
      |         SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS code
      |  FROM proj GROUP BY vec_id)
      |SELECT CAST(code AS BIGINT) AS code, COUNT(*) AS n
      |FROM codes GROUP BY code ORDER BY code""".stripMargin

  // ------------------------------------------------------ LSH-probed top-k
  /** Bucketed ANN search: compute the query's code, probe its hamming ≤ 2
    * bucket ring (1 + 8 + 28 = 37 of 256 codes ≈ 14% of the corpus), exact-
    * cosine re-rank only those candidates. The probe set is a broadcast of
    * 37 codes against the bucketed corpus — at scale the corpus side would
    * be written bucket-partitioned so the probe is a partition-pruned read,
    * not a scan. (Uniform random vectors are LSH's worst case — there is no
    * cluster structure to exploit — so the ring is deliberately wide;
    * SimilaritySpec pins the achieved recall against brute force.)
    */
  def annLshTopk(s: SparkSession, dir: String): DataFrame = {
    val coded = corpus(s, dir)
      .withColumn("code", lshCode(col("v"), LshBits))
    val qCode = coded.filter(col("vec_id") === QueryVec)
      .select(col("v").as("qv"), col("code").as("qcode"))
    def flip(c: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      c.bitwiseXOR(call_function("shiftleft", lit(1L), b))
    val ring2 = flatten(transform(sequence(lit(0), lit(LshBits - 1)),
      b1 => transform(sequence(lit(0), lit(LshBits - 1)),
        b2 => when(b1 < b2, flip(flip(col("qcode"), b1), b2))
          .otherwise(col("qcode")))))
    val probes = broadcast(qCode.select(
      col("qv"),
      explode(array_distinct(concat(
        array(col("qcode")),
        transform(sequence(lit(0), lit(LshBits - 1)), b => flip(col("qcode"), b)),
        ring2)))
        .as("probe")))
    coded.filter(col("vec_id") =!= QueryVec)
      .join(probes, col("code") === col("probe"))
      .withColumn("cosine", cosNative(s, col("v"), col("qv")))
      .select(col("vec_id"), col("code"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  // ------------------------------------------------------------ IVF ANN
  /** IVF (inverted-file) ANN: a coarse k-means quantizer (MLlib, fixed
    * seed) partitions the corpus into cells; a query probes only its
    * `nProbe` nearest cells and exact-reranks inside them. The structured
    * complement to sign-LSH: centroids adapt to the data distribution
    * (LSH hyperplanes are data-independent). At scale the cell id is a
    * write-partition column, so probing is partition-pruned I/O. Search
    * cost ≈ (nProbe/k)·|corpus| + k centroid distances. Rows-only oracle
    * (k-means assignment is engine-side); recall vs brute force pinned in
    * SimilaritySpec.
    */
  /** K-means coarse quantizer fitted on a DETERMINISTIC BOUNDED SAMPLE of
    * the corpus, never the whole of it: `fit` is an iterative driver-
    * coordinated job (maxIter full passes with a driver sync each round) —
    * at 100 TB it dominates the query by orders of magnitude, while
    * centroid quality only needs a representative sample (standard IVF
    * practice trains the quantizer on ~256·k vectors). The sample is a
    * modulus on vec_id — reproducible across runs and engines, no RNG —
    * sized from the parquet row count (metadata-cheap) to ~max(256·k, 4k)
    * vectors. Assignment of the FULL corpus stays a single map-only
    * `model.transform` pass, which scales.
    */
  private def ivfFit(vecs: DataFrame, k: Int) = {
    val n = vecs.count()
    val target = math.max(256L * k, 4096L)
    val every = math.max(1L, n / target)
    val train = vecs.filter(pmod(col("vec_id"), lit(every)) === 0)
    new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(train)
  }

  def annIvfTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val k = 16
    val nProbe = 4
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("features"))
    val model = ivfFit(vecs, k)
    val assigned = model.transform(vecs)
      .select(col("vec_id"), col("cell"),
        fixedPoint(vector_to_array(col("features"))).as("v"))
    // declare the learned state as data for the full DuckDB oracle: the
    // k-means assignment + centroids (see OracleParamsDir) — everything
    // downstream (probe choice, pruning, re-rank) replays exactly
    assigned.select(col("vec_id"), col("cell"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$OracleParamsDir/ivf/assign")
    writeCentroids(s, s"$OracleParamsDir/ivf", model)
    // query's nProbe nearest cells by exact centroid distance
    val qv = assigned.filter(col("vec_id") === QueryVec)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq
    val centroidDf = s.createDataFrame(centroids).toDF("cell", "centroid")
      .select(col("cell"), fixedPoint(col("centroid")).as("cv"))
    val probeCells = broadcast(
      centroidDf.crossJoin(broadcast(qv.select(col("v").as("qv"))))
        .withColumn("sim", cosNative(s, col("cv"), col("qv")))
        .orderBy(col("sim").desc, col("cell"))
        .limit(nProbe)
        .select(col("cell"), col("qv")))
    assigned.filter(col("vec_id") =!= QueryVec)
      .join(probeCells, "cell")
      .withColumn("cosine", cosNative(s, col("v"), col("qv")))
      .select(col("vec_id"), col("cell"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF index at rest: write the k-means-assigned corpus Hive-partitioned
    * by cell, so probing nProbe cells is partition-pruned I/O (directory
    * listing + the probed cells' files only) instead of a corpus scan —
    * the materialized form of [[annIvfTopk]]'s in-memory assignment.
    * Deterministic under the fixed seed.
    */
  def writeIvfIndex(s: SparkSession, dir: String, out: String, k: Int = 16): Unit = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("features"))
    val model = ivfFit(vecs, k)
    model.transform(vecs)
      .select(col("vec_id"), col("cell"),
        fixedPoint(org.apache.spark.ml.functions.vector_to_array(col("features"))).as("v"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/cells")
    // the coarse quantizer rides with the index (k rows)
    writeCentroids(s, out, model)
  }

  /** Partition-pruned read of the probed cells. */
  def readIvfCells(s: SparkSession, out: String, cells: Seq[Int]): DataFrame =
    s.read.parquet(s"$out/cells").filter(col("cell").isin(cells.map(Int.box): _*))

  /** IVF top-k for an EXTERNAL query vector from the index at rest — the
    * serving path: probe cells are chosen on the driver against the k
    * stored centroids (k rows — a driver-side compare, not a job), the
    * probed cells are a partition-pruned read, and scoring is the same
    * fixed-point cosine against the query shipped as a broadcast
    * literal. I/O is nProbe/k of the corpus, independent of query count.
    */
  def annIvfTopkFromIndexForVec(s: SparkSession, out: String,
                                qvec: Array[Double], nProbe: Int = 4): DataFrame = {
    val qFx = qvec.map(fxLong)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / math.sqrt(a.map(x => x.toDouble * x).sum) /
        math.sqrt(b.map(x => x.toDouble * x).sum)
    }
    val probeCells = s.read.parquet(s"$out/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .map { case (cell, c) => (cell, cos(c.map(fxLong), qFx)) }
      .sortBy { case (cell, sim) => (-sim, cell) }
      .take(nProbe).map(_._1)
    readIvfCells(s, out, probeCells.toSeq)
      .withColumn("qv", typedLit(qFx))
      .withColumn("cosine", cosNative(s, col("v"), col("qv")))
      .select(col("vec_id"), col("cell"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  // -------------------------------------------- embedding-cosine near-dup
  /** Embedding near-duplicate pairs: exact pairwise cosine ≥ 0.3 over a
    * deterministic FIXED-SIZE sample — stride `m = max(1, ⌈n/5000⌉)`
    * derived in-plan from the corpus count (a 1-row broadcast, the IVF
    * trainer's pattern), keep `vec_id % m = 0`. A fixed FRACTION would
    * keep the pairwise join quadratic in the corpus (measured 19× at the
    * sf10 decade when this sampled 20%); the fixed size caps the exact
    * verification at ~5000 vectors ≈ 12.5M cosines no matter how large
    * the corpus grows. The full-corpus scale path is [[annLshTopk]]'s
    * bucketing (probe-join instead of all-pairs). Fixed-point arithmetic
    * keeps scores bit-identical to the DuckDB oracle, which derives the
    * same stride from the same count.
    */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val stride = c.agg(
      greatest(lit(1L), ceil(count(lit(1)) / 5000.0).cast("long")).as("m"))
    val sub = c.crossJoin(broadcast(stride))
      .filter(col("vec_id") % col("m") === 0)
      .select(col("vec_id"), col("v"))
    sub.as("a").join(sub.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosNative(s, col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= 0.3)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private val dedupEmbeddingCosineSql =
    """WITH m AS (
      |  SELECT GREATEST(1, CAST(CEIL(COUNT(*) / 5000.0) AS BIGINT)) AS m
      |  FROM embeddings),
      |comp AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i0,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS x
      |  FROM embeddings, m WHERE vec_id % m.m = 0),
      |norms AS (SELECT vec_id, SUM(x*x) AS nx FROM comp GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.x * b.x) AS dot
      |  FROM comp a JOIN comp b ON a.i0 = b.i0 AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |cos AS (
      |  SELECT vec_a, vec_b,
      |         CAST(dot AS DOUBLE) / sqrt(CAST(na.nx AS DOUBLE) * CAST(nb.nx AS DOUBLE)) AS cosine
      |  FROM dots JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b)
      |SELECT vec_a, vec_b, cosine FROM cos WHERE cosine >= 0.3
      |ORDER BY vec_a, vec_b""".stripMargin

  // ----------------------------------------------- embedding array stats
  /** Per-vector component stats — the array-function surface over
    * embeddings: min/max components (float→double widening is exact) and
    * the exact fixed-point squared norm.
    */
  def embeddingStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        array_min(col("embedding")).cast("double").as("cmin"),
        array_max(col("embedding")).cast("double").as("cmax"),
        size(col("embedding")).as("dim"),
        dotFx(fixedPoint(col("embedding")), fixedPoint(col("embedding"))).as("norm_fx"))
      .orderBy(col("vec_id"))

  // ------------------------------------------ per-dimension scaling
  /** Per-dimension min–max normalization — the embedding-preprocessing
    * step LSH/PQ pipelines run so no dimension dominates the hash or
    * codebook geometry. Emitted relationally as (vec_id, i, xs) with
    * xs = (x − min_i) / (max_i − min_i), 0.0 on degenerate dimensions
    * (min = max).
    *
    * Exactness contract (full hash oracle on DOUBLE output): per-dim
    * min/max SELECT an existing float (no summation, so no float-order
    * nondeterminism), float→double widening is exact, and IEEE-754
    * double subtraction/division are bit-specified — identical inputs
    * give bit-identical quotients in any engine.
    *
    * Shape at 100 TB: the range aggregate reduces map-side to ≤ dim
    * rows per task (one 96-row exchange), the ranges broadcast back,
    * and the scaling itself is map-only over the corpus scan — one
    * pass, no corpus shuffle.
    */
  def embeddingMinmaxScale(s: SparkSession, dir: String): DataFrame = {
    val pos = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "x")
    val ranges = pos.groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    pos.join(broadcast(ranges), Seq("i"))
      .select(col("vec_id"), col("i"),
        when(col("mx") === col("mn"), lit(0.0))
          .otherwise(
            (col("x").cast("double") - col("mn").cast("double")) /
              (col("mx").cast("double") - col("mn").cast("double")))
          .as("xs"))
      .orderBy(col("vec_id"), col("i"))
  }

  // generate_subscripts is 1-based; `- 1` aligns with Spark's posexplode.
  private val embeddingMinmaxScaleSql =
    """WITH comp AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |r AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY i)
      |SELECT c.vec_id, c.i,
      |  CASE WHEN r.mx = r.mn THEN 0.0
      |       ELSE (c.x - r.mn) / (r.mx - r.mn) END AS xs
      |FROM comp c JOIN r USING (i)
      |ORDER BY c.vec_id, c.i""".stripMargin

  // ------------------------------------------- product quantization
  private[operators] val PqM = 16      // subspaces (64 dims → 4-dim subvectors)
  private[operators] val PqK = 16      // codewords per subspace
  private[graft] val PqRerank = 100 // ADC candidates kept for exact re-rank

  /** Deterministic local Lloyd's k-means over the (bounded) training
    * sample: seeded-shuffle init, first-min assignment, empty clusters
    * keep their centroid. Replaces m iterative `KMeans.fit` jobs (each a
    * driver-synchronized multi-pass over a distributed frame, the exact
    * pattern the IVF query had to drop) with zero cluster jobs.
    *
    * The O(n·k·d) ASSIGNMENT step runs on a parallel stream — each
    * point's argmin is independent of every other point's, so the
    * parallel form is bit-identical to the sequential one — while the
    * centroid ACCUMULATION stays sequential in point order (float sums
    * are order-sensitive; a parallel reduction would train different
    * centroids per run). That keeps training deterministic (the replay
    * contract every frozen-params store depends on) while making a
    * corpus-scaled nlist trainable: k ≈ √N cells over a 48·k sample is
    * seconds of multicore arithmetic, not minutes of one core.
    */
  private[operators] def lloydFit(points: Array[Array[Double]], k: Int, seed: Long,
                       iters: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val dims = points(0).length
    var cent = rnd.shuffle(points.indices.toVector).take(k)
      .map(i => points(i).clone).toArray
    val assign = new Array[Int](points.length)
    for (_ <- 0 until iters) {
      val cur = cent
      java.util.stream.IntStream.range(0, points.length).parallel().forEach { pi =>
        val p = points(pi)
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < cur.length) {
          var s = 0.0; var i = 0
          val cc = cur(c)
          while (i < dims) { val d = p(i) - cc(i); s += d * d; i += 1 }
          if (s < bd) { bd = s; best = c }; c += 1
        }
        assign(pi) = best
      }
      val sums = Array.fill(cent.length)(new Array[Double](dims))
      val cnts = new Array[Long](cent.length)
      var pi = 0
      while (pi < points.length) {
        val p = points(pi); val best = assign(pi)
        cnts(best) += 1
        var i = 0; while (i < dims) { sums(best)(i) += p(i); i += 1 }
        pi += 1
      }
      cent = cent.indices.map(c =>
        if (cnts(c) > 0) sums(c).map(_ / cnts(c)) else cent(c)).toArray
    }
    cent
  }

  /** ANN via product quantization + asymmetric distance computation — the
    * third scale path next to IVF (partition pruning) and LSH (bucket
    * ring): each vector is stored as `PqM` small codes (16 bytes/vector
    * here vs 256 bytes of floats), so the scoring pass reads codes ONLY,
    * never full vectors (candidates rank by approximate inner product;
    * the exact re-rank restores true cosine order). Per-subspace codebooks come from
    * [[lloydFit]] on the same bounded deterministic sample policy as
    * [[ivfFit]] — collected to the driver BECAUSE it is bounded; the
    * corpus-side work stays distributed. Everything downstream is ONE
    * map-only projection: encode (argmin over the literal codebook),
    * ADC score (sum of m `element_at` lookups into the literal
    * query×codeword table — no explode, no join, no aggregation), then
    * TakeOrderedAndProject for the candidate set and an exact
    * fixed-point re-rank of `PqRerank` vectors — full precision touched
    * for a CONSTANT number of vectors, not the corpus. Rows-only for
    * the driver (k-means codebooks are engine-specific); recall vs
    * brute force pinned in PqSpec.
    */
  private[operators] val PqSub = 64 / PqM

  /** Per-subspace codebooks from [[lloydFit]] over the bounded
    * deterministic sample (ivfFit policy), collected to the driver
    * BECAUSE it is bounded. orderBy pins the collect order: lloydFit's
    * seeded init is order-sensitive, and bare collect() order varies
    * with partitioning (local[4] vs local[32] would train different
    * codebooks).
    */
  private[graft] def pqCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val vecs = Tables.embeddings(s, dir)
    val n = vecs.count()
    val every = math.max(1L, n / math.max(256L * PqK, 4096L))
    val sample = vecs.filter(pmod(col("vec_id"), lit(every)) === 0)
      .orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    (0 until PqM).map(j =>
      lloydFit(sample.map(_.slice(j * PqSub, (j + 1) * PqSub)), PqK,
        seed = 42L + j, iters = 10)).toArray
  }

  /** Driver-side scalar of the dyadic fixed-point lift (VectorFns.Scale)
    * — the one definition every serving path shares.
    */
  private[operators] def fxLong(x: Double): Long =
    math.floor(x * graft.functions.VectorFns.Scale).toLong

  /** The [m][k][sub] codebooks back from `out/codebooks` — shared by
    * every from-index serving path.
    */
  private[operators] def loadCodebooks(s: SparkSession, out: String): Array[Array[Array[Double]]] = {
    val raw = s.read.parquet(s"$out/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    Array.tabulate(PqM)(j => raw.filter(_._1 == j).sortBy(_._2).map(_._3))
  }

  /** Persist codebooks as (j, code, centroid) rows alongside an index. */
  private[operators] def writeCodebooks(s: SparkSession, out: String,
                             codebooks: Array[Array[Array[Double]]]): Unit = {
    val rows = for {
      (cb, j) <- codebooks.zipWithIndex.toSeq
      (c, code) <- cb.zipWithIndex
    } yield (j, code, c.toSeq)
    s.createDataFrame(rows).toDF("j", "code", "centroid")
      .write.options(graft.streaming.BucketState.writeOptions).mode("overwrite")
      .parquet(s"$out/codebooks")
  }

  /** Persist the k coarse centroids as (cell, centroid) rows — the
    * serving path needs them to pick probe cells for an external query.
    */
  private def writeCentroids(s: SparkSession, out: String,
                             model: org.apache.spark.ml.clustering.KMeansModel): Unit =
    s.createDataFrame(model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray.toSeq) })
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$out/centroids")

  /** ADC approximate dot over a stored `codes` column: the sum of one
    * table lookup per subspace — map-only, no explode, no join.
    */
  private[operators] def adcDot(tables: Array[Array[Long]]): org.apache.spark.sql.Column =
    (0 until PqM).map(j =>
      element_at(typedLit(tables(j)), element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)

  /** ADC tables: fixed-point dot of the query subvector with every
    * codeword — m×k longs, computed on the driver, shipped as literals.
    */
  private[operators] def pqTablesFor(codebooks: Array[Array[Array[Double]]],
                          qvec: Array[Double]): Array[Array[Long]] =
    Array.tabulate(PqM) { j =>
      val q = qvec.slice(j * PqSub, (j + 1) * PqSub).map(fxLong)
      codebooks(j).map(c => c.map(fxLong).zip(q).map { case (a, b) => a * b }.sum)
    }

  private[operators] def storedQueryVec(s: SparkSession, dir: String): Array[Double] =
    Tables.embeddings(s, dir).filter(col("vec_id") === QueryVec)
      .select(col("embedding").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray

  private def pqTables(s: SparkSession, dir: String,
                       codebooks: Array[Array[Array[Double]]]): Array[Array[Long]] =
    pqTablesFor(codebooks, storedQueryVec(s, dir))

  /** Encode one subspace with interpreted HOFs — the REFERENCE
    * formulation, retained ONLY for PqEncodeParitySpec's bit-equality
    * check against [[pqNative]]. `transform`+`aggregate`+`zip_with` are
    * CodegenFallback in Spark 4 (per-element lambda dispatch, a k-element
    * distance array materialized per subspace per row); production paths
    * use the native expression.
    */
  private[graft] def pqCodeColHof(codebooks: Array[Array[Array[Double]]], j: Int) = {
    val dists = transform(typedLit(codebooks(j)), c =>
      aggregate(
        zip_with(c, slice(col("embedding"), j * PqSub + 1, PqSub).cast("array<double>"),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x))
    array_position(dists, array_min(dists)).cast("int") - 1
  }

  /** Full `PqM`-code array in one fused codegen loop
    * (graft.functions.PqEncodeExpr) — bit-identical to the HOF form
    * (PqEncodeParitySpec) but whole-stage-codegen'd, the same escalation
    * [[cosNative]] made for cosine.
    */
  private[graft] def pqNative(s: SparkSession,
                              codebooks: Array[Array[Array[Double]]],
                              v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // call through the codebook-unique name: concurrent builders for
    // different corpora on one session cannot cross-bind codebooks
    call_function(graft.functions.PqEncodeExpr.register(s, codebooks), v)
  }

  def annPqTopk(s: SparkSession, dir: String): DataFrame = {
    // build the at-rest index into the oracle-params dir (codes encoded
    // ONCE, codebooks declared as data — see OracleParamsDir), then serve
    // from it: identical answer to the former in-memory formulation
    // (PqSpec pins from-index ≡ in-memory), and the DuckDB oracle can now
    // replay ADC scoring + re-rank from the same persisted state
    writePqIndex(s, dir, s"$OracleParamsDir/pq")
    annPqTopkFromIndex(s, dir, s"$OracleParamsDir/pq")
  }

  /** PQ index at rest: `out/codes` holds (vec_id, codes array — 16 small
    * ints/vector) and `out/codebooks` the (j, code, centroid) rows — the
    * materialized form of [[annPqTopk]]'s in-memory encode, analogous to
    * [[writeIvfIndex]]. The codes file is the query-time working set
    * (~16 bytes/vector vs 256 of floats); full vectors are only touched
    * by the re-rank.
    */
  def writePqIndex(s: SparkSession, dir: String, out: String): Unit = {
    val codebooks = pqCodebooks(s, dir)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), pqNative(s, codebooks, col("embedding")).as("codes"))
      .write.mode("overwrite").parquet(s"$out/codes")
    writeCodebooks(s, out, codebooks)
  }

  /** [[annPqTopk]] served FROM the persisted index: the ADC tables come
    * from `out/codebooks` + the query vector, candidate scoring reads
    * ONLY `out/codes` (a sum of m `element_at` lookups per row — map-only
    * over 16-byte rows), and just the `PqRerank` survivors touch the
    * full-precision corpus. Identical results to the in-memory form
    * (same deterministic codebooks) — pinned by PqSpec.
    */
  def annPqTopkFromIndex(s: SparkSession, dir: String, out: String): DataFrame = {
    val codebooks = loadCodebooks(s, out)
    val tables = pqTables(s, dir, codebooks)
    val candidates = s.read.parquet(s"$out/codes")
      .filter(col("vec_id") =!= QueryVec)
      .select(col("vec_id"), adcDot(tables).as("adot"))
      .orderBy(col("adot").desc, col("vec_id")).limit(PqRerank)
    // broadcast the CONSTANT-size candidate set: without the hint the
    // re-rank would shuffle the corpus to sort-merge against 100 rows
    broadcast(candidates).join(corpus(s, dir), "vec_id")
      .crossJoin(broadcast(queryRow(s, dir)))
      .withColumn("cosine", cosNative(s, col("v"), col("qv")))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(10)
  }

  /** [[annPqTopkFromIndex]] for an EXTERNAL query vector — the serving
    * path of the index at rest: the caller brings any 64-dim vector (a
    * fresh embedding, not a stored row), ADC tables are derived from it
    * on the driver, candidate scoring reads only `out/codes`, and the
    * re-rank joins the `PqRerank` survivors against the full-precision
    * corpus with the query shipped as a broadcast literal. Nothing is
    * filtered out: an external query has no self-match to exclude.
    */
  def annPqTopkFromIndexForVec(s: SparkSession, dir: String, out: String,
                               qvec: Array[Double]): DataFrame = {
    val codebooks = loadCodebooks(s, out)
    require(qvec.length == PqM * PqSub,
      s"query vector must have ${PqM * PqSub} dims, got ${qvec.length}")
    val tables = pqTablesFor(codebooks, qvec)
    val candidates = s.read.parquet(s"$out/codes")
      .select(col("vec_id"), adcDot(tables).as("adot"))
      .orderBy(col("adot").desc, col("vec_id")).limit(PqRerank)
    val qFx = qvec.map(fxLong)
    broadcast(candidates).join(corpus(s, dir), "vec_id")
      .withColumn("qv", typedLit(qFx))
      .withColumn("cosine", cosNative(s, col("v"), col("qv")))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(10)
  }

  // ------------------------------------------------- composed IVF-PQ index
  /** IVF-PQ: the two sublinear structures composed the way a production
    * vector index lays them out — the coarse quantizer prunes WHICH rows
    * are read (cell partition pruning, nProbe/k of the corpus), PQ codes
    * shrink WHAT is read per row (`PqM` bytes of codes, never the float
    * vector). I/O per query ≈ (nProbe/k)·|corpus|·16 bytes, against
    * 256 bytes/row for the whole corpus brute-force — the standard
    * memory-resident serving layout at 100 TB.
    *
    * Scoring is inner-product ADC against the RAW-vector codebooks: for
    * dot products the query×codeword tables are cell-independent
    * (q·x ≈ Σ_j table_j[code_j]), so one driver-computed table set
    * serves every probed cell — no per-cell re-tabulation, and the
    * in-cell score is the identical expression [[annPqTopkFromIndex]]
    * uses. Candidates from the probed cells re-rank exactly against
    * full-precision vectors (constant `PqRerank` rows). Determinism:
    * same fixed seeds as the component indexes.
    */
  def writeIvfPqIndex(s: SparkSession, dir: String, out: String, k: Int = 16): Unit = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("features"))
    val model = ivfFit(vecs, k)
    val codebooks = pqCodebooks(s, dir)
    // one pass: assign cell + encode codes, partitioned by cell at rest
    model.transform(vecs)
      .select(col("vec_id"), col("cell"),
        pqNative(s, codebooks,
          org.apache.spark.ml.functions.vector_to_array(col("features"))).as("codes"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/codes")
    writeCentroids(s, out, model)
    writeCodebooks(s, out, codebooks)
  }

  /** Serve an external query vector from the at-rest IVF-PQ index: probe
    * cells are chosen on the driver against the k stored centroids (k
    * rows, no job), the probed cells' CODES are a partition-pruned read
    * scored map-only by ADC, and only the `PqRerank` survivors touch
    * full-precision vectors.
    */
  def annIvfPqTopkFromIndexForVec(s: SparkSession, dir: String, out: String,
                                  qvec: Array[Double], nProbe: Int = 4): DataFrame = {
    require(qvec.length == PqM * PqSub,
      s"query vector must have ${PqM * PqSub} dims, got ${qvec.length}")
    val qFx = qvec.map(fxLong)
    // driver-side probe selection: k centroid rows, exact fixed-point cosine
    val cents = s.read.parquet(s"$out/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    def cos(c: Array[Double]): Double = {
      val cf = c.map(fxLong)
      val dot = cf.zip(qFx).map { case (a, b) => a * b }.sum.toDouble
      dot / math.sqrt(cf.map(x => x * x).sum.toDouble * qFx.map(x => x * x).sum.toDouble)
    }
    val probed = cents.sortBy { case (cell, c) => (-cos(c), cell) }
      .take(nProbe).map(_._1)
    val tables = pqTablesFor(loadCodebooks(s, out), qvec)
    val candidates = s.read.parquet(s"$out/codes")
      .filter(col("cell").isin(probed.toSeq.map(Int.box): _*)) // partition-pruned
      .select(col("vec_id"), adcDot(tables).as("adot"))
      .orderBy(col("adot").desc, col("vec_id")).limit(PqRerank)
    broadcast(candidates).join(corpus(s, dir), "vec_id")
      .withColumn("qv", typedLit(qFx))
      .withColumn("cosine", cosNative(s, col("v"), col("qv")))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id")).limit(10)
  }

  /** Per-label centroid, one row per (label, dimension) — the class
    * prototype an embedding-space analysis (or an IVF-style coarse
    * quantizer warm start) is built from. Plan: explode the fixed-point
    * components (map-side) → ONE hash aggregation on (label, dim); all
    * sums are exact integers, the single closing division is identical
    * IEEE in any engine. At 100 TB this is the canonical
    * explode-then-partial-agg shape: the map-side combine collapses each
    * partition to |labels|·|dims| rows before the shuffle.
    */
  def embeddingCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"),
        posexplode(fixedPoint(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      .withColumn("centroid",
        col("sx").cast("double") / (col("n") * lit(graft.functions.VectorFns.Scale)))
      .orderBy(col("label"), col("dim"))

  private val embeddingCentroidsSql =
    """WITH comp AS (
      |  SELECT label,
      |         unnest(generate_series(0, len(embedding) - 1)) AS dim,
      |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS x
      |  FROM embeddings),
      |g AS (SELECT label, dim, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx
      |      FROM comp GROUP BY 1, 2)
      |SELECT label, dim, n, sx,
      |       CAST(sx AS DOUBLE) / (n * 1048576) AS centroid
      |FROM g ORDER BY label, dim""".stripMargin

  private val embeddingStatsSql =
    """WITH comp AS (
      |  SELECT vec_id, CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) AS x
      |  FROM embeddings),
      |norms AS (SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS norm_fx FROM comp GROUP BY vec_id)
      |SELECT e.vec_id, e.label,
      |  CAST(list_min(e.embedding) AS DOUBLE) AS cmin,
      |  CAST(list_max(e.embedding) AS DOUBLE) AS cmax,
      |  len(e.embedding) AS dim,
      |  n.norm_fx
      |FROM embeddings e JOIN norms n ON n.vec_id = e.vec_id
      |ORDER BY e.vec_id""".stripMargin

  // Probe-ring membership (37 explicit codes at hamming ≤ 2) is equivalent
  // to bit_count(code XOR qcode) <= 2 over the 8-bit code domain — the
  // oracle states it as the predicate, the engine as the broadcast probe
  // list (which at scale prunes partitions instead of scanning).
  private val annLshTopkSql =
    s"""$compCte, proj AS (
       |  SELECT c.vec_id, j,
       |         SUM(c.x * (CASE WHEN (c.i0 * 31 + j * 17) % 7 < 3 THEN 1 ELSE -1 END)) AS dot
       |  FROM comp c, generate_series(0, 7) AS t(j)
       |  GROUP BY c.vec_id, j),
       |codes AS (
       |  SELECT vec_id,
       |         CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS code
       |  FROM proj GROUP BY vec_id),
       |qc AS (SELECT code AS qcode FROM codes WHERE vec_id = 0)
       |SELECT c.vec_id, codes.code, c.cosine
       |FROM cos c JOIN codes ON codes.vec_id = c.vec_id, qc
       |WHERE bit_count(xor(codes.code, qc.qcode)) <= 2
       |ORDER BY cosine DESC, c.vec_id LIMIT 10""".stripMargin

  // Full oracle for the IVF query: the learned state (assignment +
  // centroids) is read back as data; probe-cell choice, candidate
  // pruning, and the exact re-rank replay in DuckDB with the identical
  // fixed-point arithmetic (integer-exact sums ⇒ bit-identical doubles).
  private val annIvfTopkSql =
    s"""$compCte,
       |asg AS (SELECT vec_id, cell
       |        FROM read_parquet('$OracleParamsDir/ivf/assign/*.parquet')),
       |centc AS (
       |  SELECT cell, generate_subscripts(centroid, 1) - 1 AS i0,
       |         CAST(FLOOR(unnest(centroid) * 1048576) AS BIGINT) AS cx
       |  FROM read_parquet('$OracleParamsDir/ivf/centroids/*.parquet')),
       |cnorm AS (SELECT cell, SUM(cx*cx) AS ncv FROM centc GROUP BY cell),
       |cdotq AS (
       |  SELECT centc.cell, SUM(centc.cx * q.qx) AS cdot
       |  FROM centc JOIN q USING (i0) GROUP BY centc.cell),
       |probes AS (
       |  SELECT c.cell FROM cdotq c JOIN cnorm n USING (cell), nq
       |  ORDER BY CAST(c.cdot AS DOUBLE) /
       |           sqrt(CAST(n.ncv AS DOUBLE) * CAST(nq.nqv AS DOUBLE)) DESC,
       |           c.cell
       |  LIMIT 4)
       |SELECT s.vec_id, a.cell, s.cosine
       |FROM cos s JOIN asg a USING (vec_id)
       |WHERE a.cell IN (SELECT cell FROM probes)
       |ORDER BY s.cosine DESC, s.vec_id LIMIT 10""".stripMargin

  // Full oracle for the PQ query: codes + codebooks are read back as
  // data; the ADC tables, approximate candidate ranking (exact integer
  // sums), and the fixed-point exact re-rank replay in DuckDB.
  private val annPqTopkSql =
    s"""$compCte,
       |cbc AS (
       |  SELECT j, code, generate_subscripts(centroid, 1) - 1 AS sp,
       |         CAST(FLOOR(unnest(centroid) * 1048576) AS BIGINT) AS cx
       |  FROM read_parquet('$OracleParamsDir/pq/codebooks/*.parquet')),
       |tbl AS (
       |  SELECT cbc.j, cbc.code, CAST(SUM(cbc.cx * q.qx) AS BIGINT) AS t
       |  FROM cbc JOIN q ON q.i0 = cbc.j * $PqSub + cbc.sp
       |  GROUP BY cbc.j, cbc.code),
       |cds AS (
       |  SELECT vec_id, generate_subscripts(codes, 1) - 1 AS j,
       |         unnest(codes) AS cval
       |  FROM read_parquet('$OracleParamsDir/pq/codes/*.parquet')),
       |adc AS (
       |  SELECT c.vec_id, CAST(SUM(t.t) AS BIGINT) AS adot
       |  FROM cds c JOIN tbl t ON t.j = c.j AND t.code = c.cval
       |  WHERE c.vec_id <> 0 GROUP BY c.vec_id),
       |cand AS (SELECT vec_id FROM adc ORDER BY adot DESC, vec_id LIMIT $PqRerank)
       |SELECT s.vec_id, s.cosine FROM cos s JOIN cand USING (vec_id)
       |ORDER BY s.cosine DESC, s.vec_id LIMIT 10""".stripMargin

  // ------------------------------------------------------------- export
  val queries: Map[String, Q] = Map(
    "embedding_stats" -> (embeddingStats _),
    "embedding_minmax_scale" -> (embeddingMinmaxScale _),
    "embedding_centroids" -> (embeddingCentroids _),
    "ann_pq_topk" -> (annPqTopk _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "ann_cosine_topk" -> (annCosineTopk _),
    "ann_range_search" -> (annRangeSearch _),
    "ann_topk_by_label" -> (annTopkByLabel _),
    "ann_lsh_histogram" -> (annLshHistogram _),
    "ann_lsh_topk" -> (annLshTopk _))

  val oracles: Map[String, String] = Map(
    "ann_ivf_topk" -> annIvfTopkSql,
    "ann_pq_topk" -> annPqTopkSql,
    "embedding_stats" -> embeddingStatsSql,
    "embedding_minmax_scale" -> embeddingMinmaxScaleSql,
    "embedding_centroids" -> embeddingCentroidsSql,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineSql,
    "ann_cosine_topk" -> annCosineTopkSql,
    "ann_range_search" -> annRangeSearchSql,
    "ann_topk_by_label" -> annTopkByLabelSql,
    "ann_lsh_histogram" -> annLshHistogramSql,
    "ann_lsh_topk" -> annLshTopkSql)
}
