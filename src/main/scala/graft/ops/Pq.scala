package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory endpoint of the ANN
  * compression ladder: fp32 (256 B/vector) → int8
  * ([[graft.functions.VecQuant]], 64 B) → PQ codes ([[PqM]] bytes).
  * The 64-dim embedding splits into [[PqM]] orthogonal subspaces of
  * [[PqSubDim]] dims; each subspace trains its own [[PqKs]]-codeword
  * L2 k-means codebook, and a vector is stored as its per-subspace
  * nearest-codeword ids — at 100 TB this is what makes the candidate
  * set RAM-resident (a billion vectors ≈ 16 GB of codes + a 4 KB
  * codebook), which is why IVF-PQ is the standard billion-scale
  * layout the reference-free ANN literature assumes.
  *
  * Training reuses the [[Similarity]] k-means machinery with SUBSPACE
  * AS A GROUPING COLUMN: all [[PqM]] codebooks train simultaneously in
  * one frame of (sub, cluster, pos0, m) rows — one Lloyd sweep is ONE
  * scan of the subvector frame regardless of M, not M sequential
  * trains. Assignment is argmin L2, computed as
  * argmax(dot(sv, cv) − ‖cv‖²/2) so the hot loop stays in the
  * codegen'd sequential-fold [[Similarity.dotD]] that both engines
  * reproduce bit-for-bit (‖sv‖² is constant per row and drops out of
  * the argmax). The argmax itself is a max_by DECLARATIVE aggregate,
  * not the row_number window [[Similarity]] uses: the subvector grain
  * is M× the vector grain, and max_by keeps partial aggregation — map
  * tasks fold the Ks candidate rows down to one winner before anything
  * shuffles, where a window would shuffle all N×M×Ks scored rows.
  * Ties break to the LOWER cluster id via the (score, −cluster) struct
  * order, mirrored by the oracle's ORDER BY score DESC, cluster.
  *
  * Codeword means ride the exact DECIMAL accumulator
  * ([[graft.Exact.davg]]) — order-independent, bit-identical across
  * engines and partition orders; seeds are the first [[PqKs]] vectors
  * in md5(vec_id) order (the engine-recomputable uniform sample every
  * trained operator here uses); the sweep budget is fixed and unrolled
  * so the oracle replays the identical chain as CTEs. Scoring a query
  * is ASYMMETRIC DISTANCE (ADC): a per-query lookup table of
  * dot(q_sub, codeword) partials (M×Ks = 256 rows, computed in-plan
  * and broadcast), and each candidate's approximate cosine is the
  * fixed-m-order sequential fold of its M table entries — subspaces
  * are orthogonal, so Σ_m dot(q_m, c_m) IS dot(q, x̂) and
  * Σ_m ‖c_m‖² IS ‖x̂‖². The fold order is pinned (array_sort by sub /
  * list ORDER BY sub) for IEEE determinism, same convention as
  * [[Similarity.dotSql]].
  */
object Pq {

  /** Subspaces (codes per vector — the bytes/vector at 100 TB). */
  val PqM = 16

  /** Dims per subspace (64 / [[PqM]]). */
  val PqSubDim = 4

  /** Codewords per subspace codebook. */
  val PqKs = 16

  /** Lloyd sweeps per codebook — fixed and unrolled like
    * [[Similarity.KmeansIters]]; PqSpec sweeps 0..PqIters and pins the
    * reconstruction-error descent so the budget is measured, not
    * guessed. */
  val PqIters = 4

  /** ADC candidate depth for the fp32 rerank stage. */
  val PqRerankC = 20

  import Similarity.{dotD, dotSql}

  /** The M subvector slices of an embedding column, in subspace order —
    * slice() is a narrow codegen'd projection, no explode yet. */
  private def subSlices(v: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)),
      mm => slice(v, mm * PqSubDim + 1, lit(PqSubDim)))

  /** (vec_id, label, sub, sv): one row per vector per subspace. */
  private def subVecs(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select($"vec_id", $"label",
      posexplode(subSlices($"embedding")).as(Seq("sub", "sv")))
  }

  /** Seed codebooks: the first [[PqKs]] vectors in md5(vec_id) order,
    * cluster c's codeword in EVERY subspace = seed vector c's slice
    * there (the [[Similarity]] seed convention, one TakeOrdered of Ks
    * rows for all M codebooks). Row form (sub, cluster, pos0, m). */
  private def pqSeedRows(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"hk", $"vec_id")
    emb.select($"vec_id", $"embedding", md5($"vec_id".cast("string")).as("hk"))
      .orderBy($"hk", $"vec_id").limit(PqKs)
      .withColumn("cluster", (row_number().over(w) - 1).cast("long"))
      .select($"cluster", posexplode(subSlices($"embedding")).as(Seq("sub", "sv")))
      .select($"sub", $"cluster", posexplode($"sv").as(Seq("pos0", "xf")))
      .select($"sub", $"cluster", $"pos0", $"xf".cast("double").as("m"))
  }

  /** Row-form codebooks → (sub, cluster, cv float array) for the
    * broadcast argmax (the [[Similarity]] centsOfRows shape with the
    * subspace key carried through). */
  private def centsOfRows(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    rows.groupBy($"sub", $"cluster")
      .agg(array_sort(collect_list(struct($"pos0", $"m"))).as("pm"))
      .select($"sub", $"cluster",
        transform($"pm", p => p("m").cast("float")).as("cv"))
  }

  /** Nearest-codeword assignment of every (vec_id, sub) subvector:
    * broadcast the M×Ks codewords, score argmax(dot − ‖cv‖²/2)
    * (≡ argmin L2), fold to one winner per subvector with the max_by
    * declarative aggregate (partial-aggregation argmax — see class
    * doc). Output (vec_id, label, sub, code, sv). */
  private def assignCodes(sub: DataFrame, cents: DataFrame): DataFrame = {
    import sub.sparkSession.implicits._
    sub.join(broadcast(cents), Seq("sub"))
      .select($"vec_id", $"label", $"sub", $"sv", $"cluster",
        (dotD($"sv", $"cv") - dotD($"cv", $"cv") / 2.0).as("score"))
      .groupBy($"vec_id", $"sub")
      .agg(max($"label").as("label"),
        max_by(struct($"cluster", $"sv"),
          struct($"score".as("s"), (-$"cluster").as("nc"))).as("win"))
      .select($"vec_id", $"label", $"sub",
        $"win.cluster".as("code"), $"win.sv".as("sv"))
  }

  /** One Lloyd step over all M codebooks: assign, re-average each
    * (sub, cluster) cell per position through the exact DECIMAL
    * accumulator, keep the old codeword for empty cells (the
    * left-join coalesce — deterministic, not an error). */
  private def pqStep(sub: DataFrame, rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    val means = assignCodes(sub, centsOfRows(rows))
      .select($"sub", $"code".as("cluster"),
        posexplode($"sv").as(Seq("pos0", "xf")))
      .groupBy($"sub", $"cluster", $"pos0")
      .agg(graft.Exact.davg($"xf".cast("double")).as("m2"))
    rows.join(means, Seq("sub", "cluster", "pos0"), "left")
      .select($"sub", $"cluster", $"pos0", coalesce($"m2", $"m").as("m"))
  }

  /** Seed + `iters` unrolled sweeps, one deferred localCheckpoint per
    * sweep (the [[Similarity]] kmeansRowsAt pattern — sweep i never
    * recomputes sweep i−1's assignment). Test seam for the
    * reconstruction-error sweep in PqSpec. */
  private[graft] def pqRowsAt(emb: DataFrame, iters: Int): DataFrame = {
    val sub = subVecs(emb)
    (0 until iters).foldLeft(
      pqSeedRows(emb).localCheckpoint(eager = false)) { (rows, _) =>
      pqStep(sub, rows).localCheckpoint(eager = false)
    }
  }

  /** Mean squared reconstruction error per subvector, ‖sv − ĉ‖²,
    * under the codebooks trained for `iters` sweeps — the objective
    * PqSpec's budget sweep plots (the argmax score already contains
    * −‖c‖²/2, so the error is ‖sv‖² − 2·dot + ‖c‖² = ‖sv‖² −
    * 2·score). */
  private[graft] def pqObjectiveAt(emb: DataFrame, iters: Int): Double = {
    import emb.sparkSession.implicits._
    val cents = centsOfRows(pqRowsAt(emb, iters))
    subVecs(emb).join(broadcast(cents), Seq("sub"))
      .select($"vec_id", $"sub", $"cluster",
        (dotD($"sv", $"cv") - dotD($"cv", $"cv") / 2.0).as("score"),
        dotD($"sv", $"sv").as("n2"))
      .groupBy($"vec_id", $"sub")
      .agg(max(struct($"score", (-$"cluster").as("nc"))).as("w"),
        max($"n2").as("n2"))
      .select(($"n2" - lit(2.0) * $"w.score").as("err"))
      .agg(avg($"err")).head().getDouble(0)
  }

  /** Session-shared trained codebooks for the corpus at `dir` — ONE
    * train per (session, corpus), a [[Tables.shared]] memo; dropped by
    * [[Tables.invalidate]] on corpus rewrite. */
  private def sharedPqRows(spark: SparkSession, dir: String): DataFrame =
    Tables.shared(spark, dir, "pq_rows")(Seq(
      pqRowsAt(Tables.embeddings(spark, dir), PqIters))).head

  /** Registered query: the trained codebooks, row form (sub, cluster,
    * 1-based pos, exact mean) — [[Similarity.kmeansCentroids]]'s shape
    * with the subspace axis. */
  def pqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedPqRows(spark, dir)
      .select($"sub", $"cluster", ($"pos0" + 1).as("pos"), $"m")
      .orderBy($"sub", $"cluster", $"pos")
  }

  /** ADC-scored candidates under the trained codebooks, IVF-pruned to
    * the query's multi-probe buckets: (vec_id, label, score) with
    * score = approximate cosine dot(q, x̂)/√(‖x̂‖²·‖q‖²). The corpus
    * side touches only codes ([[PqM]] bytes/vector) + the coarse
    * bucket; embeddings are scanned once to encode (at 100 TB the code
    * table IS the stored index — see [[Similarity.persistIndexTrained]]
    * for the persisted layout this query's plan maps onto). */
  private def adcScores(spark: SparkSession, dir: String): DataFrame =
    adcScoresAt(spark, dir, Similarity.ProbeRadius)

  /** [[adcScores]] at an explicit probe radius — the PQ side of the
    * `nprobe` recall knob ([[Similarity.annIvfAt]]'s convention): PqSpec
    * SWEEPS the radius and records the measured ADC/rerank recall curve
    * instead of a claimed one. */
  private def adcScoresAt(spark: SparkSession, dir: String,
      radius: Int): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", Similarity.lshBucket($"embedding"))
    val cents = centsOfRows(sharedPqRows(spark, dir))
    // Per-query lookup table: M×Ks partial dots + codeword norms, one
    // in-plan frame carrying the query's bucket and exact norm.
    val lut = emb.filter($"vec_id" === 0)
      .select($"bucket".as("qbucket"),
        dotD($"embedding", $"embedding").as("qn2"),
        posexplode(subSlices($"embedding")).as(Seq("sub", "qsv")))
      .join(broadcast(cents), Seq("sub"))
      .select($"sub".as("lsub"), $"cluster".as("lcluster"),
        $"qbucket", $"qn2",
        dotD($"qsv", $"cv").as("pd"), dotD($"cv", $"cv").as("pn2"))
    val codes = assignCodes(subVecs(emb.filter($"vec_id" =!= 0)), cents)
      .join(emb.select($"vec_id", $"bucket"), Seq("vec_id"))
    codes.join(broadcast(lut),
        $"sub" === $"lsub" && $"code" === $"lcluster")
      .filter(bit_count($"bucket".bitwiseXOR($"qbucket")) <= radius)
      .groupBy($"vec_id")
      .agg(max($"label").as("label"), max($"qn2").as("qn2"),
        array_sort(collect_list(struct($"sub", $"pd", $"pn2"))).as("ps"))
      .select($"vec_id", $"label",
        (aggregate(transform($"ps", p => p("pd")),
          lit(0.0), (a, x) => a + x) /
          sqrt(aggregate(transform($"ps", p => p("pn2")),
            lit(0.0), (a, x) => a + x) * $"qn2")).as("score"))
  }

  /** Registered query: IVF-PQ top-5 — the coarse-probe + ADC plan that
    * serves billion-scale ANN from codes alone. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPqAt(spark, dir, Similarity.ProbeRadius)

  /** [[annIvfPq]] at an explicit probe radius (the `nprobe` sweep seam;
    * the registered query stays on [[Similarity.ProbeRadius]], where the
    * oracle is). */
  def annIvfPqAt(spark: SparkSession, dir: String, radius: Int): DataFrame = {
    import spark.implicits._
    adcScoresAt(spark, dir, radius)
      .orderBy($"score".desc, $"vec_id")
      .limit(5)
  }

  /** Registered query: two-stage IVF-PQ → fp32 rerank. ADC ranks the
    * probed lists from codes; the top [[PqRerankC]] candidate ids (C
    * rows, broadcast) re-score against their FULL vectors — one
    * narrow probe of C embeddings, the refine step every production PQ
    * deployment runs. PqSpec pins that the reranked top-5 equals the
    * brute-force fp32 top-5 on the probed lists. */
  def annPqRerank(spark: SparkSession, dir: String): DataFrame =
    annPqRerankAt(spark, dir, Similarity.ProbeRadius)

  /** [[annPqRerank]] at an explicit probe radius — with the refine
    * stage unchanged, sweeping this measures how recall vs the GLOBAL
    * fp32 truth grows with `nprobe` while served quality stays
    * fp32-exact on whatever was probed (PqSpec pins the curve). */
  def annPqRerankAt(spark: SparkSession, dir: String, radius: Int): DataFrame = {
    import spark.implicits._
    val cands = adcScoresAt(spark, dir, radius)
      .orderBy($"score".desc, $"vec_id")
      .limit(PqRerankC)
      .select($"vec_id")
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    emb.join(broadcast(cands), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label",
        (dotD($"embedding", $"qv") /
          sqrt(dotD($"embedding", $"embedding") * dotD($"qv", $"qv")))
          .as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(5)
  }

  // ---------------------------------------------------------------------
  // Persisted IVF-PQ index: the serving-path form of [[annIvfPq]]'s
  // plan (the Similarity.persistIndexTrained convention applied to PQ
  // codes). The stored table is (vec_id, label, codes[PqM]) partitioned
  // by the coarse sign-LSH bucket; the codebooks persist BESIDE the
  // lists under `_codebooks` — they are the quantizer's identity:
  // queries build their ADC tables against them and arrival batches
  // must encode under the SAME codebooks the lists were built with.
  // At 100 TB this table IS the ANN deployment: M bytes/vector + the
  // bucket partition key, served without ever scanning an embedding.

  /** Build the IVF-PQ index for the corpus at `dir` under `outDir`.
    *
    * Write-order contract (ADVICE r8): lists must never exist without
    * the codebooks that define them — a reader probing codes against a
    * missing or mismatched quantizer is silent corruption. So the
    * WHOLE index (lists, then `_codebooks`) is written to a staging
    * dir and committed by rename: a failure anywhere in the expensive
    * write phase leaves any previous complete index untouched, and the
    * only non-atomic window is the two metadata ops of the commit
    * (delete old + rename), during which the path is ABSENT — a loud
    * read failure, never a quantizer mismatch. */
  def persistPqIndex(spark: SparkSession, dir: String, outDir: String): Unit = {
    import spark.implicits._
    val staging = outDir + ".staging"
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", Similarity.lshBucket($"embedding"))
    val cents = centsOfRows(sharedPqRows(spark, dir))
    assignCodes(subVecs(emb), cents)
      .groupBy($"vec_id")
      .agg(max($"label").as("label"),
        transform(array_sort(collect_list(struct($"sub", $"code"))),
          p => p("code")).as("codes"))
      .join(emb.select($"vec_id", $"bucket"), Seq("vec_id"))
      .write.mode("overwrite").partitionBy("bucket").parquet(staging)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$staging/_codebooks")
    val hconf = spark.sessionState.newHadoopConf()
    val out = new org.apache.hadoop.fs.Path(outDir)
    val fs = out.getFileSystem(hconf)
    fs.delete(out, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), out))
      throw new IllegalStateException(
        s"persistPqIndex: commit rename $staging -> $outDir failed")
  }

  /** The codebooks persisted with a [[persistPqIndex]] index —
    * (sub, cluster, cv), M×Ks rows, driver-sized. */
  def loadCodebooks(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/_codebooks")

  /** VecDot's exact fold, replicated driver-side for the query-time
    * lookup tables: s = 0.0; s += (double)a[i]*(double)b[i] in index
    * order — bit-identical to the in-plan scoring, so the served
    * scores equal [[annIvfPq]]'s exactly. */
  private def dotDriver(a: IndexedSeq[Float], b: IndexedSeq[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Top-k ADC search against a [[persistPqIndex]] table. The caller
    * supplies the probe buckets (the searchIndex contract); only those
    * partitions are listed, opened, or decoded. The per-query lookup
    * tables are M×Ks doubles computed driver-side against the stored
    * codebooks (one vector's arithmetic — the searchIndexTrained
    * "driver-sized" stance) and enter the scan as two map literals;
    * scoring is one codegen'd fixed-order fold per stored row over its
    * M codes. Nothing but the probed code partitions is read. */
  /** [[searchPqIndex]] with the probe set derived from an `nprobe`
    * radius: the query's coarse bucket and its Hamming ball are one
    * vector's driver arithmetic ([[Similarity.bucketOf]] /
    * [[Similarity.probeSet]]) — the full multi-probe serving call a
    * production client makes, no job launched before the pruned scan. */
  def searchPqIndexAt(spark: SparkSession, indexDir: String,
      query: Array[Float], radius: Int, k: Int): DataFrame =
    searchPqIndex(spark, indexDir, query,
      Similarity.probeSet(Similarity.bucketOf(query), radius), k)

  def searchPqIndex(spark: SparkSession, indexDir: String,
      query: Array[Float], probeBuckets: Seq[Long], k: Int = 5): DataFrame = {
    import spark.implicits._
    val books = loadCodebooks(spark, indexDir).collect()
    val qn2 = dotDriver(query, query)
    val lutPd = books.map { r =>
      val sub = r.getAs[Int]("sub")
      val cv = r.getAs[Seq[Float]]("cv").toIndexedSeq
      val qsv = query.slice(sub * PqSubDim, (sub + 1) * PqSubDim).toIndexedSeq
      (sub.toLong * PqKs + r.getAs[Long]("cluster"), dotDriver(qsv, cv))
    }.toMap
    val lutPn = books.map { r =>
      val cv = r.getAs[Seq[Float]]("cv").toIndexedSeq
      (r.getAs[Int]("sub").toLong * PqKs + r.getAs[Long]("cluster"),
        dotDriver(cv, cv))
    }.toMap
    val pd = typedlit(lutPd)
    val pn = typedlit(lutPn)
    def fold(m: Column): Column =
      aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0), (acc, mm) =>
        acc + element_at(m, mm.cast("long") * PqKs +
          element_at($"codes", mm + 1)))
    spark.read.parquet(indexDir)
      .filter($"bucket".isin(probeBuckets: _*))
      .select($"vec_id", $"label",
        (fold(pd) / sqrt(fold(pn) * lit(qn2))).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(k)
  }

  /** Append an arrival batch of (vec_id, embedding, label) rows to a
    * persisted index IN PLACE: encode under the PERSISTED codebooks
    * (never retrained at ingest — the appendToIndex/refreshFunnel
    * split), bucket, and append to the cell partitions. Probes see the
    * new codes immediately. Caller guarantees new vec_ids. */
  def appendToPqIndex(spark: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    import spark.implicits._
    val cents = loadCodebooks(spark, indexDir)
    assignCodes(subVecs(batch), cents)
      .groupBy($"vec_id")
      .agg(max($"label").as("label"),
        transform(array_sort(collect_list(struct($"sub", $"code"))),
          p => p("code")).as("codes"))
      .join(batch.select($"vec_id",
        Similarity.lshBucket($"embedding").as("bucket")), Seq("vec_id"))
      .write.mode("append").partitionBy("bucket").parquet(indexDir)
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle: the identical unrolled chain as CTEs (the
  // Similarity.kmeansCtes convention, with the subspace key threaded
  // through every block).

  /** Subspace explode of an embedding expression: rows {sub, sv}. */
  private def subExplodeSql(v: String): String =
    s"UNNEST(list_transform(range(0, $PqM), mm -> " +
      s"{sub: mm, sv: $v[mm * $PqSubDim + 1 : (mm + 1) * $PqSubDim]})) AS ss"

  private def pqCtes: String = {
    val seedKey = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    val explodePx =
      "UNNEST(list_transform(range(1, len(sv) + 1), " +
        "i -> {pos: i, x: CAST(sv[i] AS DOUBLE)})) AS px"
    val seed =
      s"""pqranked AS (
         |  SELECT embedding,
         |    ROW_NUMBER() OVER (ORDER BY $seedKey) - 1 AS cluster
         |  FROM embeddings ORDER BY $seedKey LIMIT $PqKs),
         |pqsub AS (
         |  SELECT vec_id, label, ss.sub AS sub, ss.sv AS sv
         |  FROM (SELECT vec_id, label, ${subExplodeSql("embedding")}
         |        FROM embeddings)),
         |pqrows0 AS (
         |  SELECT sub, cluster, px.pos AS pos, px.x AS m
         |  FROM (SELECT sub, cluster, $explodePx
         |        FROM (SELECT cluster, ss.sub AS sub, ss.sv AS sv
         |              FROM (SELECT cluster, ${subExplodeSql("embedding")}
         |                    FROM pqranked))))""".stripMargin
    val score = s"${dotSql("e.sv", "c.cv")} - ${dotSql("c.cv", "c.cv")} / 2"
    def assignBlock(i: Int): String =
      s"""pqcents$i AS (SELECT sub, cluster,
         |                list(CAST(m AS FLOAT) ORDER BY pos) AS cv
         |              FROM pqrows$i GROUP BY sub, cluster),
         |pqscored$i AS (
         |  SELECT e.vec_id, e.label, e.sub, e.sv, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.sub
         |      ORDER BY $score DESC, c.cluster) AS rk
         |  FROM pqsub e JOIN pqcents$i c ON e.sub = c.sub),
         |pqassign$i AS (
         |  SELECT vec_id, label, sub, sv, cluster AS code
         |  FROM pqscored$i WHERE rk = 1)""".stripMargin
    def stepBlock(i: Int): String =
      s"""pqmeans${i + 1} AS (
         |  SELECT sub, code AS cluster, px.pos AS pos,
         |    ${Similarity.davgSql("px.x")} AS m
         |  FROM (SELECT sub, code, $explodePx FROM pqassign$i)
         |  GROUP BY sub, code, px.pos),
         |pqrows${i + 1} AS (
         |  SELECT r.sub, r.cluster, r.pos, COALESCE(m.m, r.m) AS m
         |  FROM pqrows$i r LEFT JOIN pqmeans${i + 1} m
         |    ON r.sub = m.sub AND r.cluster = m.cluster AND r.pos = m.pos)""".stripMargin
    val iters = (0 until PqIters)
      .map(i => assignBlock(i) + ",\n" + stepBlock(i))
    ((seed +: iters) :+ assignBlock(PqIters)).mkString(",\n")
  }

  val pqCodebooksSql: String =
    s"""WITH $pqCtes
       |SELECT sub, cluster, pos, m FROM pqrows$PqIters
       |ORDER BY sub, cluster, pos""".stripMargin

  /** ADC scoring CTEs on top of the trained chain: query LUT, probed
    * codes, fixed-sub-order folds (list ORDER BY sub + list_reduce —
    * the [[Similarity.dotSql]] sequential-fold convention). */
  private def adcSql: String =
    s"""$pqCtes,
       |pqbuckets AS (
       |  SELECT vec_id, ${Similarity.bucketSql("embedding")} AS bucket
       |  FROM embeddings),
       |pqlut AS (
       |  SELECT q.sub, c.cluster, q.qbucket, q.qn2,
       |    ${dotSql("q.qsv", "c.cv")} AS pd,
       |    ${dotSql("c.cv", "c.cv")} AS pn2
       |  FROM (SELECT qbucket, qn2, ss.sub AS sub, ss.sv AS qsv
       |        FROM (SELECT b.bucket AS qbucket,
       |                ${dotSql("e.embedding", "e.embedding")} AS qn2,
       |                ${subExplodeSql("e.embedding")}
       |              FROM embeddings e
       |              JOIN pqbuckets b ON e.vec_id = b.vec_id
       |              WHERE e.vec_id = 0)) q
       |  JOIN pqcents$PqIters c ON q.sub = c.sub),
       |pqadc AS (
       |  SELECT a.vec_id, MAX(a.label) AS label,
       |    list_reduce(list(l.pd ORDER BY a.sub), (acc, x) -> acc + x) /
       |      sqrt(list_reduce(list(l.pn2 ORDER BY a.sub), (acc, x) -> acc + x)
       |           * MAX(l.qn2)) AS score
       |  FROM pqassign$PqIters a
       |  JOIN pqbuckets b ON a.vec_id = b.vec_id
       |  JOIN pqlut l ON a.sub = l.sub AND a.code = l.cluster
       |  WHERE a.vec_id != 0
       |    AND bit_count(xor(b.bucket, l.qbucket)) <= ${Similarity.ProbeRadius}
       |  GROUP BY a.vec_id)""".stripMargin

  val annIvfPqSql: String =
    s"""WITH $adcSql
       |SELECT vec_id, label, score FROM pqadc
       |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin

  val annPqRerankSql: String =
    s"""WITH $adcSql,
       |pqcands AS (
       |  SELECT vec_id FROM pqadc ORDER BY score DESC, vec_id LIMIT $PqRerankC)
       |SELECT e.vec_id, e.label,
       |  ${dotSql("e.embedding", "q.qv")} /
       |    sqrt(${dotSql("e.embedding", "e.embedding")} * ${dotSql("q.qv", "q.qv")}) AS score
       |FROM embeddings e
       |JOIN pqcands c ON e.vec_id = c.vec_id
       |CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
       |ORDER BY score DESC, e.vec_id LIMIT 5""".stripMargin
}
