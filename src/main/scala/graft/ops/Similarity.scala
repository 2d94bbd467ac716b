package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` fixture (vec_id, 64-dim
  * array<float>, label) — the north-star ANN surface.
  *
  * Scoring parity with the DuckDB oracle: per-element products are
  * float→double (exact) then double× (correctly rounded, identical in
  * both engines); the dot is a SEQUENTIAL left fold over the array in
  * both engines (Spark `aggregate`, DuckDB `list_reduce`) — each IEEE
  * add is correctly rounded and the order is fixed, so the folded sum is
  * bit-identical without any decimal accumulator. (A parallel SUM would
  * not be: FP addition is order-dependent — that is exactly why these
  * dots fold per-row inside the array rather than aggregating exploded
  * rows.) cosine = dot / sqrt(na*nb) — IEEE multiply, sqrt, divide, all
  * correctly rounded — so scores are bit-identical and the top-k order
  * is engine-independent (ties broken by vec_id).
  *
  * Scale design (100 TB): brute-force top-k is the per-partition-heap
  * TakeOrderedAndProject shape (k rows per partition to the driver, never
  * the corpus). The bucketed variant is the real scale path: a coarse
  * sign-LSH (random-hyperplane) partition key prunes candidates before
  * scoring — the same bucketing that an IVF index's inverted lists give.
  * Hyperplanes are derived from md5 so both engines agree without shared
  * random state.
  */
object Similarity {

  /** Dot product of two array<float> columns — the codegen'd native
    * expression (same sequential addition order as [[dotSql]], so
    * bit-identical; see graft.functions.VecDot for why it is a custom
    * Expression rather than aggregate∘zip_with). */
  def dotD(a: Column, b: Column): Column = graft.functions.VecDot.vecDot(a, b)

  /** DuckDB equivalent of [[dotD]] for oracle SQL (a, b are SQL exprs).
    * list_reduce's init is the first element — identical to Spark's
    * 0.0 + first (exact for nonzero first element). Ranging over the
    * LONGER length makes mismatched vectors NULL-propagate in BOTH
    * directions (an out-of-range index on either side yields a NULL
    * product), matching VecDot's null-on-length-mismatch. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, greatest(len($a), len($b)) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (acc, x) -> acc + x)"

  /** cosine(a, b) given precomputed squared norms. */
  private def cosine(dot: Column, na2: Column, nb2: Column): Column =
    dot / sqrt(na2 * nb2)

  /** Brute-force cosine top-k against the query vector (vec_id 0): the
    * correctness baseline. Plan: broadcast the single query row, narrow
    * score projection, TakeOrderedAndProject(k) — per-partition heaps,
    * only k rows cross to the driver. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".as("qv"))
    emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label",
        cosine(dotD($"embedding", $"qv"),
          dotD($"embedding", $"embedding"), dotD($"qv", $"qv")).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(10)
  }

  val annTopKSql: String =
    s"""SELECT vec_id, label,
       |  ${dotSql("embedding", "qv")} / sqrt(${dotSql("embedding", "embedding")} * ${dotSql("qv", "qv")}) AS score
       |FROM (SELECT * FROM embeddings WHERE vec_id != 0)
       |CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  /** Metadata filter for [[annFiltered]]. */
  val AnnFilterLabel = 3

  /** Truncated dimensionality + candidate pool for [[annMatryoshka]].
    * Half the dimensions: on MRL-TRAINED embeddings a much shorter
    * prefix works (information is front-loaded by the training loss);
    * on the fixture's untrained embeddings each dim carries equal
    * signal, so the prefix acts as a plain random projection and 32/64
    * is the honest operating point (measured recall@10 = 0.7 at 32
    * dims vs 0.4 at 16 — SimilaritySpec records the number). */
  val MrlDims = 32
  val MrlPool = 50

  /** Registered query: Matryoshka two-stage ANN (Kusupati et al. 2022,
    * arXiv:2205.13147 — MRL embeddings are trained so PREFIXES of the
    * vector are themselves usable embeddings): coarse-rank the corpus
    * by cosine over the first [[MrlDims]] of 64 dims (4× less compute
    * and — in the production layout where the prefix is stored as its
    * own column — 4× less I/O), keep [[MrlPool]] candidates, re-rank
    * them at full dimensionality. The fixture's embeddings are not
    * MRL-trained, so the prefix stage is a lossy coarse rank like any
    * quantizer — exactly the two-stage contract [[annIvfRerank]] and
    * [[Pq.annPqRerank]] follow; the emitted score is the full-dim
    * cosine (deterministic fold, engine-exact). */
  def annMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), slice($"embedding", 1, MrlDims).as("qp"))
    val coarse = emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label", $"embedding", $"qv",
        cosine(dotD(slice($"embedding", 1, MrlDims), $"qp"),
          dotD(slice($"embedding", 1, MrlDims), slice($"embedding", 1, MrlDims)),
          dotD($"qp", $"qp")).as("pscore"))
      .orderBy($"pscore".desc, $"vec_id").limit(MrlPool)
    coarse
      .select($"vec_id", $"label",
        cosine(dotD($"embedding", $"qv"),
          dotD($"embedding", $"embedding"), dotD($"qv", $"qv")).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(10)
  }

  val annMatryoshkaSql: String = {
    def pdot(a: String, b: String): String = dotSql(s"$a[1:$MrlDims]", b)
    s"""WITH q AS (SELECT embedding AS qv, embedding[1:$MrlDims] AS qp
       |           FROM embeddings WHERE vec_id = 0),
       |coarse AS (
       |  SELECT e.vec_id, e.label, e.embedding, q.qv,
       |    ${pdot("e.embedding", "q.qp")} /
       |    sqrt(${dotSql(s"e.embedding[1:$MrlDims]", s"e.embedding[1:$MrlDims]")} * ${dotSql("q.qp", "q.qp")}) AS pscore
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id != 0
       |  ORDER BY pscore DESC, e.vec_id LIMIT $MrlPool)
       |SELECT vec_id, label,
       |  ${dotSql("embedding", "qv")} / sqrt(${dotSql("embedding", "embedding")} * ${dotSql("qv", "qv")}) AS score
       |FROM coarse
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  /** Candidate pool for [[annHamming]]. */
  val HammingPool = 50

  /** Per-component sign word of a 64-dim embedding: bit i set iff
    * v[i] > 0 — 8 bytes per vector, the third quantization level next
    * to int8 ([[annIvfQuantized]]) and PQ codes ([[Pq]]). r16: the
    * native [[graft.functions.VecSignWord]] loop replaced the 64
    * chained `when` conditions — the ~320-node tree was the r15 bench
    * drift (its codegen split + JIT cost per run); the loop compiles
    * once and stays inside whole-stage codegen. */
  private def signWord(v: Column): Column =
    graft.functions.VecSignWord.vecSignWord(v)

  /** Registered query: binary-quantized ANN — coarse-rank by Hamming
    * distance between 64-bit sign words (XOR + popcount: the cheapest
    * possible vector comparison, and the stored form is 8 bytes/vector
    * — a billion vectors fit in 8 GB), pool [[HammingPool]], re-rank
    * at fp32. Hamming distance is integer-exact, so the coarse
    * ordering is engine-identical by construction (the oracle computes
    * the same integer by counting sign disagreements directly —
    * equal numbers, different route). */
  def annHamming(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), signWord($"embedding").as("qw"))
    val coarse = emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label", $"embedding", $"qv",
        bit_count(signWord($"embedding").bitwiseXOR($"qw")).as("hamming"))
      .orderBy($"hamming".asc, $"vec_id").limit(HammingPool)
    coarse
      .select($"vec_id", $"label", $"hamming",
        cosine(dotD($"embedding", $"qv"),
          dotD($"embedding", $"embedding"), dotD($"qv", $"qv")).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(10)
  }

  val annHammingSql: String = {
    // sign-disagreement count == popcount(xor(signword)) without the
    // 1<<63 BIGINT-overflow hazard of packing in ANSI SQL
    // CAST: DuckDB's list_sum returns HUGEINT, which lands as float64
    // in the driver's comparison and escapes its integer-width
    // normalization — the r9 hash-mismatch; BIGINT restores int typing
    def ham(a: String, b: String): String =
      s"CAST(list_sum(list_transform(range(1, 65), i -> CASE WHEN ($a[i] > 0) != ($b[i] > 0) THEN 1 ELSE 0 END)) AS BIGINT)"
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |coarse AS (
       |  SELECT e.vec_id, e.label, e.embedding, q.qv,
       |    ${ham("e.embedding", "q.qv")} AS hamming
       |  FROM embeddings e CROSS JOIN q
       |  WHERE e.vec_id != 0
       |  ORDER BY hamming ASC, e.vec_id LIMIT $HammingPool)
       |SELECT vec_id, label, hamming,
       |  ${dotSql("embedding", "qv")} / sqrt(${dotSql("embedding", "embedding")} * ${dotSql("qv", "qv")}) AS score
       |FROM coarse
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  }

  /** Registered query: FILTERED vector search — cosine top-k among
    * vectors satisfying a metadata predicate (label =
    * [[AnnFilterLabel]]), the ES/vector-DB "kNN with filter" shape.
    * The filter applies BEFORE scoring (pre-filtering), so it pushes
    * to the parquet scan and the dot products run only over the
    * surviving rows — the correct-recall strategy (post-filtering a
    * top-k can return < k survivors); at 100 TB the predicate prunes
    * row groups via parquet min/max stats before a single multiply. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    emb.filter($"vec_id" =!= 0 && $"label" === AnnFilterLabel)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label",
        cosine(dotD($"embedding", $"qv"),
          dotD($"embedding", $"embedding"), dotD($"qv", $"qv")).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(10)
  }

  val annFilteredSql: String =
    s"""SELECT vec_id, label,
       |  ${dotSql("embedding", "qv")} / sqrt(${dotSql("embedding", "embedding")} * ${dotSql("qv", "qv")}) AS score
       |FROM (SELECT * FROM embeddings WHERE vec_id != 0 AND label = $AnnFilterLabel)
       |CROSS JOIN (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  /** Number of sign-LSH hyperplanes (2^4 = 16 coarse buckets). */
  val NumPlanes = 4

  /** Hyperplane signs, precomputed driver-side: sign(j, i) = +1 iff the
    * top bit of md5("j:i") is set — deterministic shared randomness the
    * oracle rederives in SQL. Literal arrays keep the md5s out of the
    * per-row path (they were the bucket computation's hot spot). Floats
    * so they feed [[dotD]] directly; ±1.0f→double is exact, so the
    * projection arithmetic is unchanged. */
  private lazy val planeSigns: IndexedSeq[Seq[Float]] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    def top(s: String): Float = {
      val b = d.digest(s.getBytes("UTF-8"))
      if ((b(0) & 0x80) != 0) 1.0f else -1.0f
    }
    (0 until NumPlanes).map(j => (0 until 64).map(i => top(s"$j:$i")).toSeq)
  }

  /** Sign-LSH bucket id of an embedding column: bit_j = [h_j · v > 0].
    * The projection is the same codegen'd [[dotD]] used for scoring —
    * sequential fold, so the sign is engine-independent (see class doc).
    * (The r2 version composed `aggregate`∘`zip_with` lambdas here, which
    * evaluate interpreted — the exact per-row cost VecDot was built to
    * avoid; ±1·x products and fold order are identical, so bucket ids are
    * bit-for-bit unchanged.) */
  def lshBucket(v: Column): Column = {
    val bits = (0 until NumPlanes).map { j =>
      when(dotD(typedlit(planeSigns(j)), v) > 0.0, lit(1L << j))
        .otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  private[ops] def bucketSql(v: String): String = {
    val bits = (0 until NumPlanes).map { j =>
      s"CASE WHEN list_reduce(list_transform(range(0, 64), i -> " +
        s"(CASE WHEN strpos('89abcdef', substr(md5('$j:' || CAST(i AS VARCHAR)), 1, 1)) > 0 " +
        s"THEN 1.0 ELSE -1.0 END) * CAST($v[i + 1] AS DOUBLE)), (acc, x) -> acc + x) " +
        s"> 0 THEN ${1L << j} ELSE 0 END"
    }
    s"CAST(${bits.mkString(" + ")} AS BIGINT)"
  }

  /** Multi-probe radius: buckets within this Hamming distance of the
    * query's bucket are probed — the IVF `nprobe` recall knob. Radius 1
    * probes 1+NumPlanes = 5 of 16 inverted lists; radius 0 (single
    * bucket) measured recall@5 = 0.2 on the fixture because its
    * neighbors sit at cosine ≈ 0.4 (θ ≈ 66°, per-plane agreement only
    * ~0.63) — multi-probe is how IVF buys recall back without scanning
    * the corpus. */
  val ProbeRadius = 1

  /** IVF/LSH-pruned top-k: restrict scoring to buckets within
    * [[ProbeRadius]] Hamming bits of the query's coarse bucket
    * (multi-probe). This is the 100 TB plan — the bucket column becomes
    * the partition key of the stored corpus, so a query scans
    * (Σ_{i≤r} C(planes,i))/2^planes of the data (partition pruning over
    * the probed lists), trading recall for scan fraction. Same exact
    * scoring as [[annTopK]]; the Hamming test is codegen'd
    * bit_count(xor). */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfAt(spark, dir, ProbeRadius)

  /** [[annIvf]] at an explicit probe radius — the recall/scan-fraction
    * knob exposed so SimilaritySpec can SWEEP it (radius 0/1/2) and
    * record the measured trade instead of a claimed one. */
  def annIvfAt(spark: SparkSession, dir: String, radius: Int): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", lshBucket($"embedding"))
    val q = emb.filter($"vec_id" === 0)
      .select($"bucket".as("qbucket"), $"embedding".as("qv"))
    emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .filter(bit_count($"bucket".bitwiseXOR($"qbucket")) <= radius)
      .select($"vec_id", $"bucket",
        cosine(dotD($"embedding", $"qv"),
          dotD($"embedding", $"embedding"), dotD($"qv", $"qv")).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(5)
  }

  val annIvfSql: String =
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings)
       |SELECT vec_id, bucket,
       |  ${dotSql("embedding", "qv")} / sqrt(${dotSql("embedding", "embedding")} * ${dotSql("qv", "qv")}) AS score
       |FROM (SELECT * FROM bucketed WHERE vec_id != 0)
       |CROSS JOIN (SELECT embedding AS qv, bucket AS qbucket FROM bucketed WHERE vec_id = 0)
       |WHERE bit_count(xor(bucket, qbucket)) <= $ProbeRadius
       |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin

  /** Int8-quantized IVF top-k — [[annIvf]] with scoring over symmetric
    * int8 codes (graft.functions.VecQuantize: per-vector scale =
    * max|x|/127, codes = round(x/scale)) instead of fp32. This is the
    * standard IVF companion at 100 TB: the stored corpus carries
    * `array<tinyint>` codes — a 4× memory/shuffle/scan cut against
    * fp32 — and the per-vector scale CANCELS in cosine, so search needs
    * only the codes. Scoring is the codegen'd integer dot
    * (graft.functions.VecDotQ, exact in long) with one IEEE
    * divide/sqrt at the end — bit-identical cross-engine, so unlike
    * float-sum sketches this is fully oracle-able. Bucket assignment
    * stays on the fp32 input (quantize at index build, after bucketing —
    * the coarse quantizer and the code book are independent stages in a
    * real IVF-PQ layout). Recall vs the fp32 brute-force ground truth is
    * MEASURED in SimilaritySpec next to the radius sweep. */
  def annIvfQuantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", lshBucket($"embedding"))
      .withColumn("codes", graft.functions.VecQuant.vecQuantize($"embedding"))
    val q = emb.filter($"vec_id" === 0)
      .select($"bucket".as("qbucket"), $"codes".as("qc"))
    val dq = graft.functions.VecQuant.vecDotQ _
    emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .filter(bit_count($"bucket".bitwiseXOR($"qbucket")) <= ProbeRadius)
      .select($"vec_id", $"bucket",
        (dq($"codes", $"qc").cast("double") /
          sqrt(dq($"codes", $"codes").cast("double") *
            dq($"qc", $"qc").cast("double"))).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(5)
  }

  /** DuckDB int8 codes of an embedding expression, given a `scale`
    * column: round() in DuckDB is half-away-from-zero — the same
    * convention VecQuantize generates — and the division is one IEEE
    * op, so codes match bit-for-bit. */
  private def codesSql(v: String): String =
    s"list_transform($v, x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))"

  private def dotqSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, greatest(len($a), len($b)) + 1), " +
      s"i -> $a[i] * $b[i]), (acc, x) -> acc + x)"

  val annIvfQuantizedSql: String =
    s"""WITH scaled AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM embeddings),
       |coded AS (
       |  SELECT vec_id, bucket, ${codesSql("embedding")} AS codes FROM scaled)
       |SELECT vec_id, bucket,
       |  CAST(${dotqSql("codes", "qc")} AS DOUBLE) /
       |    sqrt(CAST(${dotqSql("codes", "codes")} AS DOUBLE) *
       |         CAST(${dotqSql("qc", "qc")} AS DOUBLE)) AS score
       |FROM (SELECT * FROM coded WHERE vec_id != 0)
       |CROSS JOIN (SELECT codes AS qc, bucket AS qbucket FROM coded WHERE vec_id = 0)
       |WHERE bit_count(xor(bucket, qbucket)) <= $ProbeRadius
       |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin

  /** Candidate pool size for the rerank stage of two-stage retrieval. */
  val RerankCandidates = 20

  /** Two-stage retrieval — the canonical serving pattern that closes
    * the quantization loop: a CHEAP int8 stage ([[annIvfQuantized]]'s
    * scoring over the probed inverted lists) selects
    * [[RerankCandidates]] candidates, then an EXACT fp32 cosine rerank
    * picks the final top-5. At 100 TB the two stages read different
    * storage: the coarse stage scans only the 4×-smaller quantized
    * index partitions ([[persistIndex]]); the rerank fetches fp32
    * vectors for k=20 ids — a broadcast id-join against the corpus
    * table, k rows, negligible. On the single fixture table both
    * columns ride the same scan, but the plan shape is the same:
    * TakeOrderedAndProject(20) on the int8 score (per-partition heaps,
    * 20 rows to the driver side of the exchange), then 20 codegen'd
    * fp32 dots. Both stages are deterministic (exact integer scores,
    * then IEEE-exact fp32 cosine; ties by vec_id), so the whole
    * pipeline is oracle-able. */
  def annIvfRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", lshBucket($"embedding"))
      .withColumn("codes", graft.functions.VecQuant.vecQuantize($"embedding"))
    val q = emb.filter($"vec_id" === 0)
      .select($"bucket".as("qbucket"), $"codes".as("qc"), $"embedding".as("qv"))
    val dq = graft.functions.VecQuant.vecDotQ _
    val coarse = emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .filter(bit_count($"bucket".bitwiseXOR($"qbucket")) <= ProbeRadius)
      .select($"vec_id", $"embedding", $"qv",
        (dq($"codes", $"qc").cast("double") /
          sqrt(dq($"codes", $"codes").cast("double") *
            dq($"qc", $"qc").cast("double"))).as("s8"))
      .orderBy($"s8".desc, $"vec_id")
      .limit(RerankCandidates)
    coarse
      .select($"vec_id", $"s8",
        cosine(dotD($"embedding", $"qv"),
          dotD($"embedding", $"embedding"), dotD($"qv", $"qv")).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(5)
  }

  val annIvfRerankSql: String =
    s"""WITH scaled AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM embeddings),
       |coded AS (
       |  SELECT vec_id, embedding, bucket, ${codesSql("embedding")} AS codes FROM scaled),
       |q AS (SELECT embedding AS qv, codes AS qc, bucket AS qbucket
       |      FROM coded WHERE vec_id = 0),
       |coarse AS (
       |  SELECT vec_id, embedding, qv,
       |    CAST(${dotqSql("codes", "qc")} AS DOUBLE) /
       |      sqrt(CAST(${dotqSql("codes", "codes")} AS DOUBLE) *
       |           CAST(${dotqSql("qc", "qc")} AS DOUBLE)) AS s8
       |  FROM (SELECT * FROM coded WHERE vec_id != 0) CROSS JOIN q
       |  WHERE bit_count(xor(bucket, qbucket)) <= $ProbeRadius
       |  ORDER BY s8 DESC, vec_id LIMIT $RerankCandidates)
       |SELECT vec_id, s8,
       |  ${dotSql("embedding", "qv")} / sqrt(${dotSql("embedding", "embedding")} * ${dotSql("qv", "qv")}) AS score
       |FROM coarse
       |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin

  /** Persist the ANN index the IVF scaladocs describe: one parquet
    * table of (vec_id, label, codes) PARTITIONED BY the coarse sign-LSH
    * bucket, codes int8-quantized. This makes the multi-probe scan
    * fraction PHYSICAL: a query at Hamming radius r reads only the
    * probed partitions (partition pruning — asserted on the plan in
    * SimilaritySpec), and each partition carries 4×-smaller int8 codes
    * instead of fp32 embeddings. The fp32 vectors stay in the corpus
    * table for reranking/reconstruction; the index is derived data,
    * rebuilt like the dedup funnel (Dedup.persistFunnel). */
  def persistIndex(spark: SparkSession, dir: String, outDir: String): Unit = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"label",
        lshBucket($"embedding").as("bucket"),
        graft.functions.VecQuant.vecQuantize($"embedding").as("codes"))
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
  }

  /** The multi-probe bucket set of one query bucket: every inverted
    * list within `radius` Hamming bits — the driver-side `nprobe`
    * enumeration every serving search shares ([[searchIndex]],
    * [[Pq.searchPqIndex]]'s radius form). Bounded by the bucket space
    * (2^[[NumPlanes]]), one long's arithmetic per bucket. */
  def probeSet(queryBucket: Long, radius: Int): Seq[Long] =
    (0L until (1L << NumPlanes))
      .filter(b => java.lang.Long.bitCount(b ^ queryBucket) <= radius)

  /** Session-shared [[persistIndex]] artifact for `dir` — built once
    * per app ([[Tables.built]], key `dir + "#ann"`, dropped by
    * [[Tables.invalidate]]); the serving-side twin of the ingest-side
    * index builds. */
  private[ops] def sharedAnnIndexDir(spark: SparkSession,
      dir: String): String = {
    val root = Tables.artifactDir("annidx", dir)
    Tables.built(spark, dir + "#ann")(persistIndex(spark, dir, root))
    root
  }

  /** Oracle for a probed int8 search that INCLUDES the query vector
    * (a [[searchIndex]] probe holds every indexed row, the query's own
    * row among them) — [[annIvfQuantizedSql]] without the self-exclusion
    * and at an explicit k. */
  private[ops] def knnProbedSql(k: Int): String =
    s"""WITH scaled AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM embeddings),
       |coded AS (
       |  SELECT vec_id, bucket, ${codesSql("embedding")} AS codes FROM scaled)
       |SELECT vec_id, bucket,
       |  CAST(${dotqSql("codes", "qc")} AS DOUBLE) /
       |    sqrt(CAST(${dotqSql("codes", "codes")} AS DOUBLE) *
       |         CAST(${dotqSql("qc", "qc")} AS DOUBLE)) AS score
       |FROM coded
       |CROSS JOIN (SELECT codes AS qc, bucket AS qbucket FROM coded WHERE vec_id = 0)
       |WHERE bit_count(xor(bucket, qbucket)) <= $ProbeRadius
       |ORDER BY score DESC, vec_id LIMIT $k""".stripMargin

  /** Driver-side coarse bucket of ONE query vector — [[lshBucket]]'s
    * arithmetic replayed with the identical sequential fold order (the
    * [[Pq.searchPqIndex]] dotDriver convention), so a serving caller
    * can compute its probe set without launching a job. */
  def bucketOf(v: Array[Float]): Long =
    (0 until NumPlanes).map { j =>
      var s = 0.0
      var i = 0
      val h = planeSigns(j)
      while (i < v.length) { s += h(i).toDouble * v(i).toDouble; i += 1 }
      if (s > 0.0) 1L << j else 0L
    }.sum

  /** Top-k cosine search against a [[persistIndex]] table: the serving
    * shape, where the query arrives driver-side (its codes and bucket
    * computed by the caller — one vector, not a distributed job) and
    * only the partitions within `radius` Hamming bits of its bucket are
    * read. The `isin` partition filter prunes at the FileIndex — the
    * scan never lists, opens, or decodes the other inverted lists. */
  def searchIndex(spark: SparkSession, indexDir: String,
      queryCodes: Array[Byte], queryBucket: Long,
      radius: Int = ProbeRadius, k: Int = 5): DataFrame = {
    import spark.implicits._
    val probed = probeSet(queryBucket, radius)
    // toSeq: Seq[Byte] literals type as array<tinyint> (an Array[Byte]
    // would type as BINARY and miss VecDotQ's input contract)
    val qc = typedlit(queryCodes.toSeq)
    val dq = graft.functions.VecQuant.vecDotQ _
    spark.read.parquet(indexDir)
      .filter($"bucket".isin(probed: _*))
      .select($"vec_id", $"bucket",
        (dq($"codes", qc).cast("double") /
          sqrt(dq($"codes", $"codes").cast("double") *
            dq(qc, qc).cast("double"))).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(k)
  }

  /** [[persistIndex]] under a TRAINED coarse quantizer: (vec_id, codes)
    * partitioned by the vector's argmax-cosine cell — the real IVF
    * layout (learned inverted lists instead of fixed sign-hyperplanes).
    * `cents` is a (cluster, cv) frame, e.g. [[kmeansFit]]'s output.
    *
    * The centroid table itself persists BESIDE the inverted lists under
    * `_centroids` (the leading underscore hides it from the index's own
    * directory listing, like parquet's `_metadata`): the centroids ARE
    * the quantizer's identity — queries pick probe cells against them,
    * and arrival batches ([[appendToIndex]]) must assign against the
    * SAME quantizer the lists were built with, or a vector lands in a
    * cell no probe of it would read. The funnel.meta lesson
    * (Dedup.persistFunnel) applied to the ANN surface. */
  def persistIndexTrained(spark: SparkSession, dir: String, outDir: String,
      cents: DataFrame): Unit = {
    import spark.implicits._
    assignmentsTo(Tables.embeddings(spark, dir), cents)
      .select($"vec_id",
        graft.functions.VecQuant.vecQuantize($"embedding").as("codes"),
        $"cluster")
      .write.mode("overwrite").partitionBy("cluster").parquet(outDir)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$outDir/_centroids")
  }

  /** The quantizer persisted with a [[persistIndexTrained]] index —
    * (cluster, cv), k rows. Serving callers collect it (k×dim floats,
    * driver-sized) to pick probe cells; [[appendToIndex]] broadcasts it
    * to assign arrivals. */
  def loadCentroids(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/_centroids")

  /** Append an arrival batch of (vec_id, embedding) rows to a trained
    * index IN PLACE — the ingest-time maintenance step
    * ([[graft.ops.Dedup.appendToFunnel]]'s analogue for the ANN
    * surface): assign each new vector under the PERSISTED quantizer,
    * quantize, and append to its cell's partition directory. Probes see
    * the new vectors immediately (partition listing is per-query);
    * re-TRAINING the quantizer is a backfill job (a new index build),
    * not an ingest step — exactly the df-refresh split refreshFunnel
    * documents. Caller guarantees new vec_ids, as with any ingest
    * append. */
  def appendToIndex(spark: SparkSession, indexDir: String,
      batch: DataFrame): Unit = {
    import spark.implicits._
    assignmentsTo(batch, loadCentroids(spark, indexDir))
      .select($"vec_id",
        graft.functions.VecQuant.vecQuantize($"embedding").as("codes"),
        $"cluster")
      .write.mode("append").partitionBy("cluster").parquet(indexDir)
  }

  /** Top-k search against a [[persistIndexTrained]] table. The caller
    * supplies the probe list (the query's nprobe nearest centroids —
    * one vector against k centroids, driver-sized arithmetic, same
    * contract as [[searchIndex]]'s precomputed bucket); only those
    * partitions are listed, opened, or decoded. */
  def searchIndexTrained(spark: SparkSession, indexDir: String,
      queryCodes: Array[Byte], probeClusters: Seq[Long], k: Int = 5): DataFrame = {
    import spark.implicits._
    val qc = typedlit(queryCodes.toSeq)
    val dq = graft.functions.VecQuant.vecDotQ _
    spark.read.parquet(indexDir)
      .filter($"cluster".isin(probeClusters: _*))
      .select($"vec_id", $"cluster",
        (dq($"codes", qc).cast("double") /
          sqrt(dq($"codes", $"codes").cast("double") *
            dq(qc, qc).cast("double"))).as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(k)
  }

  /** Per-position centroid component rows (label, 0-based pos, mean).
    * The mean routes through the exact DECIMAL accumulator
    * (graft.Exact.davg) — float→double widening is exact and the decimal
    * sum is order-independent, so centroid components are bit-identical
    * across engines AND across cluster partition orders. */
  private def centroidRows(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.select($"label", posexplode($"embedding").as(Seq("pos0", "xf")))
      .groupBy($"label", $"pos0")
      .agg(graft.Exact.davg($"xf".cast("double")).as("m"))
  }

  /** The exact-mean SQL expression (x must already be DOUBLE); the
    * VARCHAR route makes DuckDB parse the same shortest-repr decimal
    * Spark does — see Relational.q1AggSql. */
  private[ops] def davgSql(x: String): String =
    s"CAST(CAST(SUM(CAST(CAST($x AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) / COUNT($x)"

  /** Shared DuckDB CTE: per-(label, 1-based pos) exact centroid means. */
  private val centroidRowsSql: String =
    s"""SELECT label, px.pos AS pos, ${davgSql("px.x")} AS m
       |  FROM (SELECT label, UNNEST(list_transform(range(1, len(embedding) + 1),
       |          i -> {pos: i, x: CAST(embedding[i] AS DOUBLE)})) AS px
       |        FROM embeddings)
       |  GROUP BY label, px.pos""".stripMargin

  /** Per-label centroid components — the training step of an IVF coarse
    * quantizer (supervised labels standing in for k-means cells) and
    * the class prototypes of nearest-centroid classification. Row form
    * (label, pos, m), one exact mean per component: the positional
    * explode keeps the aggregation a plain two-key HashAggregate with
    * map-side partials — (label, pos) has cardinality labels×dim, so it
    * parallelizes perfectly at any corpus size, and no per-group state
    * ever holds a whole vector. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    centroidRows(Tables.embeddings(spark, dir))
      .select($"label", ($"pos0" + 1).as("pos"), $"m")
      .orderBy($"label", $"pos")
  }

  val labelCentroidsSql: String =
    s"""SELECT label, pos, m FROM ($centroidRowsSql)
       |ORDER BY label, pos""".stripMargin

  /** Nearest-centroid assignment + confusion counts: every vector scored
    * against every label centroid (5 rows, broadcast), argmax by cosine,
    * then (true label, assigned) counts — the IVF list-assignment step
    * and the sanity check that centroids separate the label structure.
    * Centroid components round double→float before scoring (IEEE
    * round-to-nearest, identical both engines) so the hot loop stays in
    * the codegen'd float-array VecDot. */
  def centroidAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val cents = centroidRows(emb)
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos0", $"m"))).as("pm"))
      .select($"label".as("c_label"),
        transform($"pm", p => p("m").cast("float")).as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"score".desc, $"c_label")
    emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"label", $"c_label",
        cosine(dotD($"embedding", $"cv"),
          dotD($"embedding", $"embedding"), dotD($"cv", $"cv")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .groupBy($"label", $"c_label")
      .agg(count(lit(1)).as("n"))
      .orderBy($"label", $"c_label")
  }

  val centroidAssignSql: String = {
    val score = s"${dotSql("e.embedding", "c.cv")} / " +
      s"sqrt(${dotSql("e.embedding", "e.embedding")} * ${dotSql("c.cv", "c.cv")})"
    s"""WITH pm AS (
       |$centroidRowsSql),
       |cents AS (SELECT label AS c_label,
       |            list(CAST(m AS FLOAT) ORDER BY pos) AS cv
       |          FROM pm GROUP BY label),
       |scored AS (
       |  SELECT e.label, c.c_label,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY $score DESC, c.c_label) AS rk
       |  FROM embeddings e CROSS JOIN cents c)
       |SELECT label, c_label, COUNT(*) AS n
       |FROM scored WHERE rk = 1
       |GROUP BY label, c_label
       |ORDER BY label, c_label""".stripMargin
  }

  /** Query-batch size / per-query k for [[annBatchTopK]]: vec_ids below
    * [[BatchQueries]] are the query batch, the rest are the corpus. */
  val BatchQueries = 5
  val BatchK = 3

  /** Batched ANN: top-k neighbors for EVERY query in a batch at once —
    * the retrieval workhorse shape (embedding dedup against a reference
    * set, eval-set retrieval, hard-negative mining), where per-query
    * [[annTopK]] calls would rescan the corpus |batch| times.
    *
    * Plan: broadcast the query batch (small side by construction), score
    * corpus×batch in one codegen'd projection, then rank per q_id with
    * one window. The ranking shuffle carries only (q_id, vec_id, score)
    * triples — never embeddings; at production batch sizes q_id is a
    * high-cardinality, uniform partition key (each query's candidate
    * list is corpus-sized only here because the fixture scores
    * exhaustively; the scale path buckets first, as [[annIvf]] does). */
  def annBatchTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter($"vec_id" < BatchQueries)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"score".desc, $"vec_id")
    emb.filter($"vec_id" >= BatchQueries)
      .crossJoin(broadcast(q))
      .select($"q_id", $"vec_id",
        cosine(dotD($"embedding", $"qv"),
          dotD($"embedding", $"embedding"), dotD($"qv", $"qv")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= BatchK)
      .orderBy($"q_id", $"rk")
  }

  val annBatchTopKSql: String = {
    val score = s"${dotSql("c.embedding", "q.qv")} / " +
      s"sqrt(${dotSql("c.embedding", "c.embedding")} * ${dotSql("q.qv", "q.qv")})"
    s"""SELECT q_id, vec_id, score, rk FROM (
       |  SELECT q.q_id, c.vec_id, $score AS score,
       |    ROW_NUMBER() OVER (PARTITION BY q.q_id
       |      ORDER BY $score DESC, c.vec_id) AS rk
       |  FROM (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
       |        WHERE vec_id < $BatchQueries) q
       |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings
       |              WHERE vec_id >= $BatchQueries) c)
       |WHERE rk <= $BatchK
       |ORDER BY q_id, rk""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs: bucket with sign-LSH, score
    * only same-bucket pairs, keep cosine ≥ 0.3 (calibrated to the
    * fixture's max inter-vector cosine ≈ 0.4). The same-bucket self-join
    * is the all-pairs killer at scale turned into O(Σ bucket²). */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", lshBucket($"embedding"))
      .withColumn("n2", dotD($"embedding", $"embedding"))
      .select($"vec_id", $"embedding", $"bucket", $"n2")
    emb.as("a")
      .join(emb.as("b"), $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        cosine(dotD($"a.embedding", $"b.embedding"), $"a.n2", $"b.n2").as("score"))
      .filter($"score" >= 0.3)
      .orderBy($"id_a", $"id_b")
  }

  val embedNearDupSql: String =
    s"""WITH bucketed AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket,
       |         ${dotSql("embedding", "embedding")} AS n2
       |  FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${dotSql("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2) AS score
       |FROM bucketed a JOIN bucketed b
       |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${dotSql("a.embedding", "b.embedding")} / sqrt(a.n2 * b.n2) >= 0.3
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------
  // Trained coarse quantizer: k-means over embeddings (round 7). Until
  // now every clustered consumer (semanticDedup, persistIndex) inherited
  // its cell structure from fixture LABELS — a real 100 TB corpus has no
  // labels; SemDeDup and IVF both assume a k-means coarse quantizer.
  // Lloyd's algorithm in pure DataFrame form, fully deterministic (fixed
  // seed order, fixed iteration count, exact-decimal means), so the
  // whole training run unrolls into a DuckDB CTE chain and is
  // oracle-checked end to end.
  // ---------------------------------------------------------------------

  /** Cell count / Lloyd iteration count of the trained quantizer. k
    * matches the fixture's label count so SimilaritySpec's
    * trained-vs-supervised comparison is like-for-like; at 100 TB k is
    * the IVF list-count knob (≈ √n cells, thousands — still a broadcast:
    * k×dim floats). The iteration count is FIXED, not convergence-tested:
    * a fixed unrolled plan is deterministic, restart-safe, and
    * oracle-able; production k-means on embeddings converges in a
    * handful of sweeps and a fixed budget is how batch pipelines
    * schedule it anyway. The budget is MEASURED, not guessed:
    * SimilaritySpec sweeps 0..KmeansIters and pins that the final sweep
    * moves the objective by <5% of the total training gain (fixture
    * trajectory 0.209 seed → 0.290 at five sweeps). */
  val KmeansK = 10
  val KmeansIters = 5

  /** Seed centroids in row form (cluster, pos0, m): the [[KmeansK]]
    * vectors FIRST IN md5(vec_id) ORDER — a uniform, engine-recomputable
    * sample (the hash-keyed trick of TrainPrep.datasetSplit), so both
    * engines pick identical seeds with no shared random state. The
    * global sort is a TakeOrderedAndProject: k rows cross to the driver
    * side, never the corpus. The k-row window below it is single-
    * partition by construction (k rows). */
  private def kmeansSeedRows(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"hk", $"vec_id")
    emb.select($"vec_id", $"embedding", md5($"vec_id".cast("string")).as("hk"))
      .orderBy($"hk", $"vec_id").limit(KmeansK)
      .withColumn("cluster", (row_number().over(w) - 1).cast("long"))
      .select($"cluster", posexplode($"embedding").as(Seq("pos0", "xf")))
      .select($"cluster", $"pos0", $"xf".cast("double").as("m"))
  }

  /** Row-form centroids → (cluster, cv float array) for the broadcast
    * argmax. double→float is IEEE round-to-nearest in both engines (the
    * [[centroidAssign]] convention: the hot scoring loop stays in the
    * codegen'd float-array VecDot). */
  private def centsOfRows(rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    rows.groupBy($"cluster")
      .agg(array_sort(collect_list(struct($"pos0", $"m"))).as("pm"))
      .select($"cluster", transform($"pm", p => p("m").cast("float")).as("cv"))
  }

  /** One Lloyd step: assign every vector to its argmax-cosine centroid,
    * re-average each cell's members per position through the exact
    * DECIMAL accumulator (order-independent — bit-identical across
    * engines AND cluster partition orders), and keep the OLD centroid
    * for any cell that captured no members (the left-join coalesce) so
    * empty cells are deterministic, not an error. */
  private def kmeansStep(emb: DataFrame, rows: DataFrame): DataFrame = {
    import rows.sparkSession.implicits._
    val means = assignmentsTo(emb, centsOfRows(rows))
      .select($"cluster", posexplode($"embedding").as(Seq("pos0", "xf")))
      .groupBy($"cluster", $"pos0")
      .agg(graft.Exact.davg($"xf".cast("double")).as("m2"))
    rows.join(means, Seq("cluster", "pos0"), "left")
      .select($"cluster", $"pos0", coalesce($"m2", $"m").as("m"))
  }

  /** Trained quantizer in row form: seed, then [[KmeansIters]] Lloyd
    * steps. One deferred localCheckpoint per iteration (the
    * Dedup.clustersOf pattern) truncates lineage so the unrolled plan
    * doesn't recompute iteration i-1's assignment inside iteration i —
    * each sweep is one broadcast-argmax pass over the embeddings plus a
    * (cluster × dim)-row aggregate, the canonical distributed Lloyd's
    * shape (at 100 TB the embeddings input would be cached/persisted
    * across sweeps; here a few re-scans of the fixture are cheaper than the
    * pin). */
  private def kmeansRows(emb: DataFrame): DataFrame = kmeansRowsAt(emb, KmeansIters)

  /** [[kmeansRows]] at an explicit sweep count — the test seam so
    * SimilaritySpec can SWEEP iterations (0..KmeansIters) and record
    * the measured objective trajectory instead of a claimed one (the
    * annIvfAt radius-sweep pattern). */
  private[graft] def kmeansRowsAt(emb: DataFrame, iters: Int): DataFrame =
    (0 until iters).foldLeft(
      kmeansSeedRows(emb).localCheckpoint(eager = false)) { (rows, _) =>
      kmeansStep(emb, rows).localCheckpoint(eager = false)
    }

  /** Mean cosine of every vector to its assigned centroid under the
    * quantizer trained for `iters` sweeps — the objective the sweep
    * test plots. */
  private[graft] def kmeansObjectiveAt(emb: DataFrame, iters: Int): Double = {
    import emb.sparkSession.implicits._
    assignmentsTo(emb, centsOfRows(kmeansRowsAt(emb, iters)))
      .agg(avg($"cscore")).head().getDouble(0)
  }

  /** Trained coarse-quantizer centroids (cluster, cv) of an arbitrary
    * embedding frame — drop-in for the label-derived centroids in
    * [[semanticDedupOf]] and [[persistIndexTrained]]. */
  def kmeansFit(emb: DataFrame): DataFrame = centsOfRows(kmeansRows(emb))

  /** Registered query: the trained centroids themselves, row form
    * (cluster, 1-based pos, exact mean) — [[labelCentroids]]'s shape,
    * derived from DATA rather than labels. */
  /** Session-shared trained quantizer rows for the corpus at `dir` —
    * ONE Lloyd's train per (session, corpus), consumed by both kmeans
    * queries (a [[Tables.shared]] memo, like [[Dedup.sharedSigSets]];
    * dropped by [[Tables.invalidate]] on corpus rewrite). */
  private def sharedKmeansRows(spark: SparkSession, dir: String): DataFrame =
    Tables.shared(spark, dir, "kmeans_rows")(Seq(
      kmeansRows(Tables.embeddings(spark, dir)))).head

  def kmeansCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sharedKmeansRows(spark, dir)
      .select($"cluster", ($"pos0" + 1).as("pos"), $"m")
      .orderBy($"cluster", $"pos")
  }

  /** Registered query: per-vector assignment under the TRAINED
    * quantizer (vec_id, cluster, cosine-to-centroid) — the IVF
    * list-assignment step with learned lists. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    assignmentsTo(emb, centsOfRows(sharedKmeansRows(spark, dir)))
      .select($"vec_id", $"cluster", $"cscore")
      .orderBy($"vec_id")
  }

  /** The unrolled Lloyd's chain as DuckDB CTEs: seed rows, then per
    * iteration (cents_i, scored_i, assign_i, means_{i+1}, rows_{i+1}),
    * with a final cents/scored/assign block under the trained centroids.
    * Mirrors the Spark chain stage for stage; every arithmetic step is
    * engine-exact (see [[centroidRows]] / [[dotSql]] / class doc). */
  private def kmeansCtes: String = {
    val seedKey = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    val explodePx =
      "UNNEST(list_transform(range(1, len(embedding) + 1), " +
        "i -> {pos: i, x: CAST(embedding[i] AS DOUBLE)})) AS px"
    val seed =
      s"""ranked AS (
         |  SELECT embedding,
         |    ROW_NUMBER() OVER (ORDER BY $seedKey) - 1 AS cluster
         |  FROM embeddings ORDER BY $seedKey LIMIT $KmeansK),
         |rows0 AS (
         |  SELECT cluster, px.pos AS pos, px.x AS m
         |  FROM (SELECT cluster, $explodePx FROM ranked))""".stripMargin
    val score = s"${dotSql("e.embedding", "c.cv")} / " +
      s"sqrt(${dotSql("e.embedding", "e.embedding")} * ${dotSql("c.cv", "c.cv")})"
    def assignBlock(i: Int): String =
      s"""cents$i AS (SELECT cluster, list(CAST(m AS FLOAT) ORDER BY pos) AS cv
         |            FROM rows$i GROUP BY cluster),
         |scored$i AS (
         |  SELECT e.vec_id, e.embedding, c.cluster, $score AS score,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY $score DESC, c.cluster) AS rk
         |  FROM embeddings e CROSS JOIN cents$i c),
         |assign$i AS (
         |  SELECT vec_id, embedding, cluster, score FROM scored$i WHERE rk = 1)""".stripMargin
    def stepBlock(i: Int): String =
      s"""means${i + 1} AS (
         |  SELECT cluster, px.pos AS pos, ${davgSql("px.x")} AS m
         |  FROM (SELECT cluster, $explodePx FROM assign$i)
         |  GROUP BY cluster, px.pos),
         |rows${i + 1} AS (
         |  SELECT r.cluster, r.pos, COALESCE(m.m, r.m) AS m
         |  FROM rows$i r LEFT JOIN means${i + 1} m
         |    ON r.cluster = m.cluster AND r.pos = m.pos)""".stripMargin
    val iters = (0 until KmeansIters)
      .map(i => assignBlock(i) + ",\n" + stepBlock(i))
    ((seed +: iters) :+ assignBlock(KmeansIters)).mkString(",\n")
  }

  val kmeansCentroidsSql: String =
    s"""WITH $kmeansCtes
       |SELECT cluster, pos, m FROM rows$KmeansIters
       |ORDER BY cluster, pos""".stripMargin

  val kmeansAssignSql: String =
    s"""WITH $kmeansCtes
       |SELECT vec_id, cluster, score AS cscore FROM assign$KmeansIters
       |ORDER BY vec_id""".stripMargin

  /** Pairwise-cosine bar for [[semanticDedup]] — same calibration as
    * [[embedNearDup]] (the fixture's max inter-vector cosine ≈ 0.4, so
    * 0.3 yields a small, real duplicate set). */
  val SemanticBar = 0.3

  /** SEMANTIC deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with a coarse quantizer,
    * score pairwise cosine WITHIN each cluster only, and among each
    * τ-similar group keep the member FARTHEST from its cluster centroid
    * — near-duplicates carry no new information, and keeping the
    * extreme member preserves more diversity than keeping the medoid.
    * This completes the dedup family's modality axis: exact/MinHash/
    * SimHash/containment/line-level operate on text, this one on
    * meaning (paraphrases, translations, re-renders share no n-grams).
    *
    * Policy, made deterministic for the oracle: rank cluster members by
    * (centroid cosine ASC, vec_id ASC); a vector is DROPPED iff ANY
    * earlier-ranked same-cluster vector is ≥ [[SemanticBar]] similar to
    * it — including earlier members that were themselves dropped. That
    * is SemDeDup's released pairwise-matrix formulation (on a chain
    * a~b, b~c, a≁c it drops both b and c), NOT a sequential
    * keep-survivors-only sweep; "earlier" = farther from centroid per
    * the paper's diversity-keeping choice.
    *
    * Shape at 100 TB: the label-centroid prototypes stand in for k-means
    * cells (k rows, broadcast — see [[centroidAssign]]); assignment is a
    * narrow codegen'd projection + one per-vector argmax window. The
    * pair scan is a same-cluster self-join — O(Σ cluster²) like every
    * bucketed dedup here, with cluster sizes ≈ n/k under a real k-means
    * coarse quantizer (k scales with corpus, exactly the IVF list-count
    * knob [[annIvf]] documents). The drop set joins back by vec_id only
    * — the verdict join carries 8-byte ids. The assignment projection
    * feeds THREE plan consumers (two self-join sides + the verdict
    * spine), so the registered query materializes it once per
    * (session, corpus) via [[sharedAssignments]] — the
    * Dedup.sharedSigSets pattern; at 100 TB the assignment table is
    * index metadata persisted next to the corpus ([[persistIndex]]
    * stores exactly this bucketing), not recomputed per consumer. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    dedupOfAssigned(sharedAssignments(spark, dir))

  /** Session-shared (vec_id, embedding, n2, cluster, cscore) assignment
    * table — built once per (session, corpus) with a deferred
    * localCheckpoint, shared by [[semanticDedup]]'s three consumers.
    * Same corpus-version contract as Dedup.sharedSigSets: rewriting the
    * corpus dir in place requires [[Tables.invalidate]] before reading
    * again. */
  def sharedAssignments(spark: SparkSession, dir: String): DataFrame =
    Tables.shared(spark, dir, "semassign")(Seq(
      assignmentsOf(Tables.embeddings(spark, dir))
        .localCheckpoint(eager = false))).head

  /** [[semanticDedup]] over an arbitrary (vec_id, embedding, label)
    * frame with label-derived centroids — the test seam (no session
    * caching). */
  def semanticDedupOf(emb: DataFrame): DataFrame =
    dedupOfAssigned(assignmentsOf(emb))

  /** [[semanticDedup]] under an EXPLICIT coarse quantizer (cluster, cv)
    * — e.g. [[kmeansFit]]'s trained centroids, the unsupervised form a
    * label-free 100 TB corpus requires. */
  def semanticDedupOf(emb: DataFrame, cents: DataFrame): DataFrame =
    dedupOfAssigned(assignmentsTo(emb, cents))

  /** Label-derived centroids as a generic (cluster, cv) quantizer frame
    * (supervised stand-in for [[kmeansFit]] where labels exist). */
  private def labelCents(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    centroidRows(emb)
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos0", $"m"))).as("pm"))
      .select($"label".as("cluster"),
        transform($"pm", p => p("m").cast("float")).as("cv"))
  }

  /** Nearest-centroid assignment of every vector under label-derived
    * centroids: (vec_id, embedding, n2, cluster, cscore). */
  private def assignmentsOf(emb: DataFrame): DataFrame =
    assignmentsTo(emb, labelCents(emb))

  /** Nearest-centroid assignment under an ARBITRARY centroid frame
    * (cluster, cv float array) — the shared argmax of the supervised
    * path, the k-means trainer ([[kmeansStep]]), and the trained
    * consumers. Broadcast the k centroids, one codegen'd scoring
    * projection, one per-vector argmax window (ties by cluster id).
    *
    * Examined r18, deliberately kept as a window: Spark 4 plans the
    * rank<=1 filter as WindowGroupLimit, which already collapses the
    * k-way candidate stream to one row per vec_id BEFORE the exchange
    * — the k× amplification never crosses the network. A rewrite to
    * groupBy(vec_id).agg(min(struct(negScore, cluster, …))) was tried
    * (oracle-green, identical tie-break/NaN semantics) and planned as
    * SortAggregate — a struct buffer is not hash-aggregable — i.e. the
    * same sort-exchange-sort shape with the window nodes renamed;
    * measured a wash (0.37/0.25 s → 0.43/0.27 s exec1/exec2 at sf0.1,
    * 32c) and was dropped. */
  private def assignmentsTo(emb: DataFrame, cents: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"vec_id").orderBy($"score".desc, $"cluster")
    emb.crossJoin(broadcast(cents))
      .select($"vec_id", $"embedding", $"cluster",
        dotD($"embedding", $"embedding").as("n2"),
        cosine(dotD($"embedding", $"cv"),
          dotD($"embedding", $"embedding"), dotD($"cv", $"cv")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"vec_id", $"embedding", $"n2", $"cluster",
        $"score".as("cscore"))
  }

  /** Within-cluster matrix sweep over a prebuilt assignment table:
    * drop b iff ANY earlier-ranked a is similar (see [[semanticDedup]]'s
    * policy note — dropped members still disqualify later ones). */
  private def dedupOfAssigned(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        $"a.cluster" === $"b.cluster" &&
          ($"a.cscore" < $"b.cscore" ||
            ($"a.cscore" === $"b.cscore" && $"a.vec_id" < $"b.vec_id")))
      .filter(cosine(dotD($"a.embedding", $"b.embedding"),
        $"a.n2", $"b.n2") >= SemanticBar)
      .select($"b.vec_id".as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned
      .join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", $"cluster", $"cscore",
        coalesce(!$"is_dup", lit(true)).as("keep"))
      .orderBy($"vec_id")
  }

  /** Pairwise-cosine SQL over two [[assignedCtes]] aliases. */
  private def pairSimSql(x: String, y: String): String =
    s"${dotSql(s"$x.embedding", s"$y.embedding")} / sqrt($x.n2 * $y.n2)"

  /** Shared DuckDB CTEs mirroring [[sharedAssignments]]: per-label
    * centroids, per-vector argmax assignment with centroid cosine. */
  private val assignedCtes: String = {
    val cscore = s"${dotSql("e.embedding", "c.cv")} / " +
      s"sqrt(${dotSql("e.embedding", "e.embedding")} * ${dotSql("c.cv", "c.cv")})"
    s"""pm AS (
       |$centroidRowsSql),
       |cents AS (SELECT label AS c_label,
       |            list(CAST(m AS FLOAT) ORDER BY pos) AS cv
       |          FROM pm GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.embedding, c.c_label,
       |    ${dotSql("e.embedding", "e.embedding")} AS n2,
       |    $cscore AS score,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY $cscore DESC, c.c_label) AS rk
       |  FROM embeddings e CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, embedding, n2, c_label AS cluster, score AS cscore
       |  FROM scored WHERE rk = 1)""".stripMargin
  }

  val semanticDedupSql: String =
    s"""WITH $assignedCtes,
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster = b.cluster
       |   AND (a.cscore < b.cscore
       |        OR (a.cscore = b.cscore AND a.vec_id < b.vec_id))
       |  WHERE ${pairSimSql("a", "b")} >= $SemanticBar)
       |SELECT s.vec_id, s.cluster, s.cscore,
       |  d.vec_id IS NULL AS keep
       |FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
       |ORDER BY s.vec_id""".stripMargin

  /** INCREMENTAL semantic screening — the arrival-batch form of
    * [[semanticDedup]], completing the incremental story across all
    * three dedup modalities (resemblance: Dedup.dedupIncremental,
    * containment: Dedup.containmentIncremental, semantic: this). A new
    * vector is a semantic duplicate iff some CORPUS vector in its
    * assigned cluster is >= [[SemanticBar]] similar; the batch never
    * scores against itself (within-batch dups resolve when the batch
    * joins the corpus, same contract as dedupIncremental). vec_id % 5
    * slices the fixture into batch/corpus like the other incremental
    * oracles.
    *
    * Shape at 100 TB: the corpus side comes from the persisted
    * assignment/index table ([[persistIndex]]'s layout — at production
    * scale the join probes only the batch's clusters, exactly the IVF
    * pruned-search path [[searchIndex]] pins in its partition-pruning
    * test); the batch side is assignment-projected and joined by
    * cluster, so cost scales with |batch| x cluster size, never with
    * corpus². */
  def semanticIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = sharedAssignments(spark, dir)
    val isNew = col("vec_id") % 5 === 0
    val batch = a.filter(isNew)
    val corpus = a.filter(!isNew)
    val hits = batch.as("b")
      .join(corpus.as("c"),
        col("b.cluster") === col("c.cluster") &&
          (dotD(col("b.embedding"), col("c.embedding")) /
            sqrt(col("b.n2") * col("c.n2"))) >= SemanticBar)
      .select(col("b.vec_id").as("vec_id"))
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("n_dups"))
    batch.select($"vec_id", $"cluster")
      .join(hits, Seq("vec_id"), "left")
      .select($"vec_id", $"cluster",
        coalesce($"n_dups", lit(0L)).as("n_dups"),
        (coalesce($"n_dups", lit(0L)) > 0).as("is_dup"))
      .orderBy($"vec_id")
  }

  val semanticIncrementalSql: String =
    s"""WITH $assignedCtes,
       |hits AS (
       |  SELECT b.vec_id, COUNT(*) AS n_dups
       |  FROM assigned b JOIN assigned c
       |    ON b.cluster = c.cluster
       |   AND b.vec_id % 5 = 0 AND c.vec_id % 5 != 0
       |   AND ${pairSimSql("b", "c")} >= $SemanticBar
       |  GROUP BY b.vec_id)
       |SELECT a.vec_id, a.cluster,
       |  COALESCE(h.n_dups, 0) AS n_dups,
       |  COALESCE(h.n_dups, 0) > 0 AS is_dup
       |FROM assigned a LEFT JOIN hits h ON a.vec_id = h.vec_id
       |WHERE a.vec_id % 5 = 0
       |ORDER BY a.vec_id""".stripMargin

  // ------------------------------------------- semantic contrastive mining

  /** Below this within-cluster cosine a pair is a SEMANTIC hard
    * negative for [[semanticPairs]] (the coarse quantizer put them in
    * one cell, exact cosine says they are not alike). */
  val SemHardNegHi = 0.15

  /** Registered query: contrastive pairs mined in EMBEDDING space —
    * the semantic sibling of [[graft.ops.TrainPrep.contrastivePairs]]
    * (that one mines the lexical funnel): within-cluster pairs with
    * cosine ≥ [[SemanticBar]] are positives (the pairs SemDeDup calls
    * duplicates), within-cluster pairs with cosine < [[SemHardNegHi]]
    * are hard negatives — same coarse cell, verifiably dissimilar,
    * exactly the confusable-for-the-quantizer examples a retriever
    * trainer wants. Pure reuse of the session-shared assignment
    * table; the pair scan is the same O(Σ cluster²) bucketed sweep as
    * [[semanticDedup]], never all-pairs. */
  def semanticPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = sharedAssignments(spark, dir)
    a.as("x").join(a.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("anchor_id"), col("y.vec_id").as("pair_id"),
        col("x.cluster").as("cluster"),
        cosine(dotD(col("x.embedding"), col("y.embedding")),
          col("x.n2"), col("y.n2")).as("cos_sim"))
      .withColumn("pair_type",
        when($"cos_sim" >= SemanticBar, "positive")
          .when($"cos_sim" < SemHardNegHi, "hard_negative"))
      .filter($"pair_type".isNotNull)
      .orderBy($"anchor_id", $"pair_id")
  }

  val semanticPairsSql: String =
    s"""WITH $assignedCtes
       |SELECT anchor_id, pair_id, cluster, cos_sim,
       |  CASE WHEN cos_sim >= $SemanticBar THEN 'positive'
       |       WHEN cos_sim < $SemHardNegHi THEN 'hard_negative' END AS pair_type
       |FROM (
       |  SELECT x.vec_id AS anchor_id, y.vec_id AS pair_id,
       |    x.cluster AS cluster, ${pairSimSql("x", "y")} AS cos_sim
       |  FROM assigned x JOIN assigned y
       |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
       |WHERE cos_sim >= $SemanticBar OR cos_sim < $SemHardNegHi
       |ORDER BY anchor_id, pair_id""".stripMargin

  // ------------------------------------------------- density-aware sampling

  /** Per-cluster retention cap for [[densitySample]]: clusters larger
    * than this downsample to ~Cap expected survivors. */
  val DensityCap = 32

  /** Registered query: density-weighted diversity sampling (the D4
    * recipe — Tirumala et al. 2023, arXiv:2308.12284: after semantic
    * dedup, RE-BALANCE the corpus away from over-dense embedding
    * regions, because near-duplicate-heavy neighborhoods keep
    * contributing redundant gradient signal even after exact dups are
    * gone). Under the TRAINED k-means quantizer ([[kmeansAssign]]'s
    * shared rows), each cluster keeps ~[[DensityCap]] expected docs:
    * acceptance rate = min(1, Cap/|cluster|), decided by the same
    * deterministic salted-hash predicate as the Select samplers — so
    * the sample is re-derivable anywhere, stable under replay, and
    * exact in the oracle.
    *
    * Shape at 100 TB: assignment is the session-shared trained
    * quantizer view (one Lloyd's train per corpus); cluster sizes are
    * one k-row aggregate that re-enters by broadcast; acceptance is a
    * pure per-row hash predicate — no extra shuffle, no stored sample,
    * the [[Select]] sampleWithRates shape on embedding-space density
    * instead of domain identity. */
  def densitySample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    densitySampleOf(kmeansAssign(spark, dir).select($"vec_id", $"cluster"))
  }

  /** [[densitySample]] over an arbitrary (vec_id, cluster) assignment
    * frame — the test seam. */
  def densitySampleOf(a: DataFrame): DataFrame = {
    import a.sparkSession.implicits._
    val rates = a.groupBy($"cluster").agg(count(lit(1)).as("n_c"))
      .select($"cluster",
        when($"n_c" <= DensityCap, lit(1.0).cast("double"))
          .otherwise(lit(DensityCap).cast("double") / $"n_c").as("rate"))
    val accept = (conv(substring(md5(concat(lit("dens:"),
      $"vec_id".cast("string"))), 1, 15), 16, 10).cast("double") /
      lit(1152921504606846976.0)) < $"rate"
    a.join(broadcast(rates), "cluster")
      .filter(accept)
      .select($"vec_id", $"cluster", $"rate")
      .orderBy($"vec_id")
  }

  val densitySampleSql: String =
    s"""WITH a AS (SELECT vec_id, cluster FROM ($kmeansAssignSql) t),
       |sz AS (SELECT cluster, COUNT(*) AS n_c FROM a GROUP BY cluster),
       |r AS (SELECT cluster,
       |        CASE WHEN n_c <= $DensityCap THEN CAST(1 AS DOUBLE)
       |             ELSE CAST($DensityCap AS DOUBLE) / n_c END AS rate
       |      FROM sz)
       |SELECT a.vec_id, a.cluster, r.rate
       |FROM a JOIN r USING (cluster)
       |WHERE CAST(('0x' || substr(md5('dens:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
       |      / 1152921504606846976.0 < r.rate
       |ORDER BY a.vec_id""".stripMargin
}
