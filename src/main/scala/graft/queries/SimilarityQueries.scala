package graft.queries

import scala.collection.mutable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import graft.{GraftNative, Q, Tables}
import graft.functions.VectorFns
import graft.operators.Stage
import graft.sql.GraftTableCatalog

/** One scored (probe, candidate) pair in the ANN reduce. */
final case class ScoredNeighbor(probe_id: Long, vec_id: Long, cosine: Double)

/** Approximate-nearest-neighbor surface over the `embeddings` table.
  *
  * v01 is the exact baseline: top-k cosine for a small probe set. The probe
  * side is tiny and broadcast, so scoring is one map-side scan of the
  * vector table. The reduce side is a PARTIAL top-k: a bounded per-probe
  * heap inside each partition emits at most k rows per (probe, partition),
  * so only k x partitions rows ever shuffle — never the full N x |probes|
  * scored set into |probes| reducer tasks (the 10^9-rows-in-5-tasks
  * scale-killer a naive ranking window would plan).
  *
  * v02 is the scale path: IVF-style cell-restricted search (cells here are
  * the precomputed `label` assignments; in production, k-means cell ids
  * computed the same way). Co-partitioning vectors by cell turns ANN into
  * partition-pruned lookups touching 1/|cells| of the data.
  *
  * All scoring uses integer-quantized cosine ([[VectorFns.quantize]]):
  * exact, order-free, oracle-reproducible. The quantized vectors + norms
  * are a WRITTEN stage table per query ([[Stage.table]] — the feature
  * table a production pipeline would persist), so the interpreted
  * quantization pass runs once, not once per consumer.
  */
object SimilarityQueries {

  val K = 10
  val NumProbes = 5 // probe set = vec_id < 5

  /** v11 kNN-graph degree: neighbors kept per vector in the corpus-wide
    * graph build (small by design — the artifact feeds clustering /
    * SemDeDup, not user-facing search).
    */
  val KnnGraphK = 5

  /** v12 per-label sample quota: sized so the generated fixtures exercise
    * BOTH paths (labels under quota keep everything — the deficit path —
    * and labels over it are capped at exactly the quota).
    */
  val StratQuota = 50

  /** v13 tombstone fixture: every Nth corpus vector is "deleted". 9 is
    * coprime with the batch-injection modulus (50), so deletions hit
    * buckets the probes actually search and several top-k lists must
    * change vs v10 (pinned in RetrievalSpec).
    */
  val TombstoneMod = 9

  /** v07 product-quantization shape: 64-dim vectors in 4 subspaces of 16
    * dims, 16 codes per subspace (codes fit a nibble; 3 Lloyd rounds —
    * 5 was measured too: it lifts several per-probe recalls ~0.1 but
    * leaves the floor-limiting probe at 0.6 while costing v07 ~15% more
    * at sf0.1, so the cheaper training stays).
    */
  val PqSubs = 4
  val PqCodes = 16
  val PqIters = 3
  val EmbDim = 64

  /** v07 ADC shortlist size before exact re-ranking (10x the final K —
    * measured up from 5x to certify [[RecallFloor]] 0.6: at 50 the worst
    * probe sat at 0.5 recall at sf0.01, at 100 every probe clears 0.6
    * while the exact re-rank still touches only a 100-row shortlist).
    */
  val PqShortlist = 100

  /** v08 coarse-quantizer cell count (trained k-means cells — the
    * fixture's `label` column is a semantic class, NOT a geometric
    * cluster, so real IVF cells must be learned; 8 cells = ~1/8 of the
    * corpus scored per probe).
    */
  val IvfCells = 8
  val IvfIters = 3

  private[queries] def quantized(s: SparkSession, d: String): DataFrame =
    quantizedWithPath(s, d)._1

  /** [[quantized]] plus its written directory — the beam machinery reads
    * the corpus SIZE from this stage's parquet footers ([[Stage.rowCount]],
    * metadata-only) instead of running a count() action over the corpus.
    */
  private[queries] def quantizedWithPath(s: SparkSession, d: String): (DataFrame, String) = {
    GraftNative.ensure(s)
    Stage.sharedTableWithPath(s, "qv", d) {
      Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        VectorFns.quantize(col("embedding")).as("q"))
        .withColumn("n2", GraftNative.longDot(col("q"), col("q")))
    }
  }

  /** The v10/v13/v14 LSH bucket index over the dupEmb fixture (corpus +
    * injected batch), as ONE memoized written stage plus its directory —
    * the directory is what v14's compaction job rewrites.
    */
  private[graft] def dupEmbIndexWithPath(s: SparkSession, d: String): (DataFrame, String) = {
    GraftNative.ensure(s)
    Stage.sharedTableWithPath(s, "v10_index_all", d) {
      DedupQueries.dupEmb(s, d)
        .select(col("vec_id"), VectorFns.quantize(col("embedding")).as("q"))
        .withColumn("n2", GraftNative.longDot(col("q"), col("q")))
        .withColumn("bucket", lshBucket(col("q")))
    }
  }

  /** The v13/v14 tombstone fixture: every [[TombstoneMod]]-th corpus
    * vector is deleted (batch rows are never tombstoned).
    */
  private[graft] def tombstones(s: SparkSession, d: String): DataFrame =
    DedupQueries.dupEmb(s, d)
      .where(col("vec_id") % TombstoneMod === 0 &&
        col("vec_id") < DedupQueries.BatchIdOffset)
      .select("vec_id")

  /** The quantized+bucketed corpus as ONE memoized written stage (v11's
    * graph build and t18's hybrid-fusion vector side scan the same
    * artifact — a production deployment maintains exactly one bucketed
    * index table serving every consumer).
    */
  private[queries] def bucketedQv(s: SparkSession, d: String): DataFrame =
    Stage.sharedTable(s, "v11_bucketed", d) {
      quantized(s, d).withColumn("bucket", lshBucket(col("q")))
    }

  /** The corpus-wide kNN graph (v11's artifact) as ONE memoized written
    * stage, WITH each neighbor's quantized vector and norm embedded
    * (src_id, dst_id, rnk, cosine, q, n2) — the HNSW convention of
    * storing vectors beside the adjacency list, so v16's beam search
    * scores frontier expansions from the graph scan alone and never
    * re-joins the corpus per hop. v11 projects its 4 output columns from
    * this stage; v16 walks it.
    */
  private[queries] def knnGraphEdges(s: SparkSession, d: String): DataFrame =
    Stage.sharedTable(s, "v16_graph", d) { knnGraphBuild(s, d) }

  /** The UNSTAGED graph-build computation behind [[knnGraphEdges]] — split
    * out so plan-shape tests can pin the build's physical plan (bucket
    * equi-join + WindowGroupLimit) regardless of whether another consumer
    * already memoized the written stage in this JVM.
    */
  private[graft] def knnGraphBuild(s: SparkSession, d: String): DataFrame = {
    GraftNative.ensure(s)
    val b = bucketedQv(s, d)
    val left = b.select(col("vec_id").as("src_id"), col("bucket"),
      col("q").as("src_q"), col("n2").as("src_n2"))
    // narrow rows through the top-k window (no vectors — see
    // [[beamGraphEdges]]); survivors re-join the corpus for the embedded
    // neighbor vectors
    val scored = left.join(b.select("vec_id", "bucket", "q", "n2"), Seq("bucket"))
      .where(col("vec_id") =!= col("src_id") && col("src_n2") > 0 && col("n2") > 0)
      .select(col("src_id"), col("vec_id").as("dst_id"),
        (GraftNative.longDot(col("src_q"), col("q")).cast("double") /
          sqrt((col("src_n2") * col("n2")).cast("double"))).as("cosine"))
    val w = Window.partitionBy("src_id").orderBy(col("cosine").desc, col("dst_id"))
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= KnnGraphK)
      .join(b.select(col("vec_id").as("dst_id"), col("q"), col("n2")), Seq("dst_id"))
      .select("src_id", "dst_id", "cosine", "q", "n2", "rnk")
  }

  /** [[qvSql]] with caller-chosen CTE names, so composed oracles (t18)
    * can avoid colliding with their own `qv`/`n` CTEs.
    */
  private[queries] def qvSqlNamed(qvName: String, nName: String): String =
    s"""$qvName AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |$nName AS (SELECT vec_id, label, q,
       |        CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM $qvName)""".stripMargin

  private[queries] val qvSql: String = qvSqlNamed("qv", "n")

  private[queries] val cosineSql: String =
    """CAST(CAST(list_sum(list_transform(list_zip(p.q, c.q), s -> s[1] * s[2])) AS BIGINT) AS DOUBLE)
      |  / sqrt(CAST(p.n2 * c.n2 AS DOUBLE))""".stripMargin

  /** Per-partition partial top-k: one bounded heap per probe (the probe set
    * is small by construction), emitting at most k rows per (probe,
    * partition). Total order (cosine desc, vec_id asc) matches the final
    * ranking, so the union of per-partition top-k is a superset of the
    * global top-k. This is the justified `mapPartitions` case: a bounded
    * imperative accumulator Spark's aggregate operators can't express
    * without shuffling untruncated per-partition lists.
    */
  private def partialTopK(scored: Dataset[ScoredNeighbor], k: Int): Dataset[ScoredNeighbor] = {
    // PriorityQueue dequeues its MAX: order so the max is the WORST entry
    // (lowest cosine, then highest vec_id) — the one to evict.
    val worstFirst: Ordering[ScoredNeighbor] =
      Ordering.by((s: ScoredNeighbor) => (-s.cosine, s.vec_id))
    scored.mapPartitions { it =>
      val heaps = mutable.Map.empty[Long, mutable.PriorityQueue[ScoredNeighbor]]
      it.foreach { s =>
        val h = heaps.getOrElseUpdate(s.probe_id,
          mutable.PriorityQueue.empty(worstFirst))
        if (h.size < k) h.enqueue(s)
        else {
          val w = h.head
          if (s.cosine > w.cosine || (s.cosine == w.cosine && s.vec_id < w.vec_id)) {
            h.dequeue(); h.enqueue(s)
          }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(Encoders.product[ScoredNeighbor])
  }

  /** Score the joined (vectors x broadcast probes) frame and reduce it
    * to the exact per-probe top-k — the shared tail of v01/v02/v04/v06.
    * The full scored set feeds `row_number() <= k`: Spark plans
    * WindowGroupLimit(Partial) BEFORE the probe_id exchange, so each map
    * partition ships at most k rows per probe, the bounded shuffle
    * [[partialTopK]]'s heap gives, without leaving columnar/codegen
    * execution. Measured at sf0.1 (v01+v02+v04+v06, min of 3 passes, two
    * repeats): 1.64/1.67 s against 1.75/1.75 s for the heap.
    */
  private[graft] def scoreAndRank(joined: DataFrame): DataFrame = {
    val scored = joined
      .where(col("p_n2") > 0 && col("n2") > 0)
      .select(col("probe_id"), col("vec_id"),
        (GraftNative.longDot(col("p_q"), col("q")).cast("double") /
          sqrt((col("p_n2") * col("n2")).cast("double"))).as("cosine"))
      .as[ScoredNeighbor](Encoders.product[ScoredNeighbor])
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.toDF()
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= K)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("cosine"))
      .orderBy("probe_id", "rnk")
  }

  /** The v04 LSH-bucketed search (shared with the v05 recall eval). */
  private def lshKnn(s: SparkSession, d: String): DataFrame = {
    val qv = quantized(s, d).withColumn("bucket", lshBucket(col("q")))
    val probes = qv.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("bucket").as("p_bucket"),
        col("q").as("p_q"), col("n2").as("p_n2"))
    scoreAndRank(qv.join(broadcast(probes),
      col("bucket") === col("p_bucket") && col("vec_id") =!= col("probe_id")))
  }

  /** A bucket plus its `LshPlanes` Hamming-1 neighbors (each sign bit
    * flipped once) — the multi-probe set. Because every vector lives in
    * exactly one bucket, the probed buckets are disjoint and no candidate
    * is scored twice.
    */
  private[queries] def probeBuckets(bucket: Column): Column =
    probeBucketsP(bucket, LshPlanes)

  /** [[probeBuckets]] at an explicit plane count. */
  private[queries] def probeBucketsP(bucket: Column, p: Int): Column =
    array((bucket +: (0 until p).map { i =>
      concat(substring(bucket, 1, i),
        when(substring(bucket, i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(bucket, i + 2, p - i - 1))
    }): _*)

  /** Multi-probe LSH search: each probe searches its own bucket AND the
    * `LshPlanes` buckets one sign-flip away — the standard recall fix for
    * hyperplane LSH (a near neighbor that disagrees on exactly one
    * low-margin plane lands one bit away). The probe side stays tiny
    * (x(planes+1) rows before broadcast), so the scan side still does one
    * map-side pass; search now touches (planes+1)/2^planes of the data
    * instead of 1/2^planes — recall rises at a linear, bounded cost,
    * measured against single-probe by the v06 oracle query.
    */
  private def lshKnnMultiProbe(s: SparkSession, d: String): DataFrame = {
    val qv = quantized(s, d).withColumn("bucket", lshBucket(col("q")))
    val probes = qv.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"),
        explode(probeBuckets(col("bucket"))).as("p_bucket"),
        col("q").as("p_q"), col("n2").as("p_n2"))
    scoreAndRank(qv.join(broadcast(probes),
      col("bucket") === col("p_bucket") && col("vec_id") =!= col("probe_id")))
  }

  /** The shared PQ index build for v07/v08: subvector stage, per-subspace
    * codebooks, packed codes+norms — each a memoized WRITTEN stage
    * ([[Stage.sharedTable]]), so one training run feeds both consumers in
    * a pass, exactly as a production pipeline trains once and serves many
    * query workloads.
    */
  private def pqIndex(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.ProductQuantizer
    val qv = quantized(s, d)
    val sv = Stage.sharedTable(s, "pq_sv", d) {
      ProductQuantizer.subvectors(qv, PqSubs, EmbDim)
    }
    val codebook = Stage.sharedTable(s, "pq_codebook", d) {
      ProductQuantizer.fit(sv, PqCodes, PqIters)
    }
    val packed = Stage.sharedTable(s, "pq_packed", d) {
      ProductQuantizer.encodePacked(sv, codebook, qv.select("vec_id", "n2"))
    }
    (sv, codebook, packed)
  }

  /** The per-probe recall floor the v07/v08 certified outputs assert —
    * the same floor PqSpec asserts on the raw recalls.
    */
  val RecallFloor = 0.6

  /** The per-probe floor the v16 beam search certifies — HIGHER than the
    * PQ floor because an HNSW-class index should beat a code-compressed
    * shortlist: with the 5x32 certification walk the worst probe
    * measures 1.0 / 1.0 / 0.9 at sf0.001 / 0.01 / 0.1, so 0.8 asserts
    * with margin. The SCALE walk (data-sized buckets at sf1+, the fixed
    * [[BeamScaleHops]] shape) holds >= 0.7 — recorded per round in the
    * scale-controls artifact, not certified here (the certification sf
    * is where the oracle runs).
    */
  val BeamRecallFloor = 0.8

  /** v16 beam search shape: beam width (frontier kept per probe per hop),
    * fixed hop count, and the beam graph's out-degree. Each hop adds
    * <= BeamWidth * BeamGraphK scored candidates per probe — bounded,
    * data-independent expansion cost. Measured WORST-probe recall across
    * sf0.001 / sf0.01 / sf0.1: 3 hops x 10 = 0.1 (stuck — see
    * [[beamGraphEdges]] on why the graph must be cross-bucket), 4 x 16 =
    * 0.4, 5 x 24 = 0.7 (the r12 shape, floor 0.6); widening the beam to
    * 5 x 32 lifts the worst probe to 1.0 / 1.0 / 0.9 — the round-13
    * shape, clearing the raised [[BeamRecallFloor]] 0.8 with margin at
    * every certification scale for 1.33x the hop fan-out (6 x 32 scored
    * the same floor for 1.6x — extra width beats extra depth here, so
    * the cheaper axis wins).
    */
  val BeamWidth = 32
  val BeamHops = 5
  val BeamGraphK = 8

  /** The SCALE-PATH walk shape: one FIXED deeper walk used whenever the
    * data-sized bucketing is finer than the fixture planes, however many
    * planes it gains — the cap that replaces the old per-gained-plane
    * growth (effHops/effWidth once reached 80-wide walks by sf100; these
    * never move). Combined with the multi-probe coarse entry (seeds one
    * flip away on every plane), the fixed shape holds the certified
    * floor as buckets shrink — measured on the 10x corpus: data-sized
    * p=6 -> min probe recall 0.7; FORCED p=8 (4x finer, occupancy ~78)
    * -> still 0.7, while 5x24 (the fixture shape) bottomed at 0.5. Depth
    * stability under plane growth is the per-bucket edge quota's doing:
    * every node keeps a guaranteed long link per plane, so the walk
    * crosses any plane in one hop from anywhere.
    */
  val BeamScaleHops = 7
  val BeamScaleWidth = 32

  /** Per-bucket occupancy the beam bucketing targets: the plane count
    * grows as ceil(log2(n / target)) (floored at [[LshPlanes]]), so the
    * quadratic-in-occupancy bucket join stays O(n · target · planes)
    * however big the corpus — the standard LSH sizing rule the fixed
    * 4-plane fixture constant deliberately ignores at test scale. 512
    * keeps every sf <= 0.1 at exactly [[LshPlanes]] (all recorded recalls
    * and the BeamSearchSpec fixtures unchanged) and activates at sf1+
    * (sf1: 7 planes / 128 buckets; the un-scaled build measured 75.7 s =
    * 14.5x at 10x rows — the one super-linear query of the r11 sf1
    * recording — and would be hopeless at 100 TB).
    */
  val BeamBucketTarget = 512L

  private[queries] def beamPlaneCount(n: Long): Int = {
    var p = LshPlanes
    while (p < MaxPlanes && (n >> p) > BeamBucketTarget) p += 1
    p
  }

  /** The corpus bucketed for the beam machinery: [[bucketedQv]]'s shared
    * stage verbatim when [[beamPlaneCount]] resolves to [[LshPlanes]]
    * (every certification sf), a separate written stage at the scaled
    * plane count above it. Returns the frame plus the resolved count.
    * The corpus size feeding the plane count comes from the quantized
    * stage's parquet FOOTERS (metadata reads), never a count() action —
    * at 100 TB a full-column scan just to compute ceil(log2(n/512)) per
    * build/search session would dwarf the build itself. `pOverride` pins
    * the plane count explicitly (tests exercising the scaled path at
    * small sf); the stage name carries the plane count so differently-
    * bucketed builds never collide.
    */
  private[queries] def beamBucketed(s: SparkSession, d: String,
      pOverride: Option[Int] = None): (DataFrame, Int) = {
    val (qv, qvPath) = quantizedWithPath(s, d)
    val p = pOverride.getOrElse(beamPlaneCount(Stage.rowCount(s, qvPath)))
    if (p == LshPlanes) (bucketedQv(s, d), p)
    else (Stage.sharedTable(s, s"v16_bucketed_p$p", d) {
      qv.withColumn("bucket", lshBucketP(col("q"), p))
    }, p)
  }

  /** Per-(node, bucket) edge quotas: [[BeamOwnEdges]] nearest from the
    * node's own bucket, [[BeamFlipEdges]] nearest from EACH Hamming-1
    * bucket. The quota is the point (HNSW's edge-diversity heuristic in
    * bucket form): a GLOBAL top-k cut lets own-bucket neighbors crowd out
    * every cross-bucket edge as buckets get finer — measured at sf1
    * (6 planes): global top-8 → worst-probe recall 0.10; quotas → every
    * node keeps a guaranteed long link PER PLANE, so any plane can be
    * crossed in one hop from anywhere.
    */
  val BeamOwnEdges = 4
  val BeamFlipEdges = 2

  /** The graph v16 walks. v11's kNN graph is built from OWN-BUCKET
    * candidates only, which makes it bucket-CLOSED: every neighbor of a
    * bucket member is in the same bucket, so a walk seeded from the
    * probe's bucket could never leave it (measured: beam == single-probe
    * recall exactly). A navigable graph needs CROSS-BUCKET edges — here
    * each vector keeps [[BeamOwnEdges]] own-bucket neighbors plus
    * [[BeamFlipEdges]] from EACH Hamming-1 bucket (per-bucket quota, not
    * a global cut), so consecutive hops cross one sign-plane at a time
    * and the walk can reach neighbors arbitrarily many planes away — the
    * HNSW long-link effect, built from the same disjoint-bucket machinery
    * as v06. Build cost is (planes+1) · Σ_b occupancy_b² — bounded by
    * [[BeamBucketTarget]] via the data-scaled plane count, so the join
    * stays O(n · target · planes) at any corpus size; paid once into a
    * written stage with each neighbor's vector embedded. (An NN-descent
    * build — bounded Hamming-1 seed sample + neighbor-of-neighbor
    * rounds — was built and measured as the alternative: 119 s and 0.30
    * worst-probe recall at sf1; the exact bounded-bucket join beats
    * sampling on both axes at these densities.)
    */
  private[queries] def beamGraphEdges(s: SparkSession, d: String,
      pOverride: Option[Int] = None): DataFrame = {
    GraftNative.ensure(s)
    val (bAll, p) = beamBucketed(s, d, pOverride)
    Stage.sharedTable(s, s"v16_beam_graph_p$p", d) {
      val b = bAll.where(col("n2") > 0)
      val left = b
        .select(col("vec_id").as("src_id"), col("bucket").as("src_bucket"),
          explode(probeBucketsP(col("bucket"), p)).as("p_bucket"),
          col("q").as("src_q"), col("n2").as("src_n2"))
      // the scored frame entering the window carries NO vectors — ranking
      // |pairs| wide rows would drag every q array through the partial
      // sort (measured 25 s vs 3 s at sf1 for the same pair count); the
      // survivors (|V| · quota rows) re-join the corpus for their
      // embedded vectors afterwards, at negligible cost
      val scored = left.join(
          b.select(col("vec_id"), col("bucket"), col("q"), col("n2")),
          col("bucket") === col("p_bucket"))
        .where(col("vec_id") =!= col("src_id"))
        .select(col("src_id"), col("vec_id").as("dst_id"),
          (GraftNative.longDot(col("src_q"), col("q")).cast("double") /
            sqrt((col("src_n2") * col("n2")).cast("double"))).as("cosine"),
          col("bucket").as("dst_bucket"),
          (col("bucket") === col("src_bucket")).as("own"))
      // the quota window: rank within each (node, probed bucket). The
      // window filter is the CONSTANT max quota so WindowGroupLimit
      // kicks in (a partial top-k below the shuffle — a data-dependent
      // bound would force the full scored set through the sort); the
      // smaller flip quota prunes afterwards.
      val w = Window.partitionBy("src_id", "dst_bucket")
        .orderBy(col("cosine").desc, col("dst_id"))
      scored.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= BeamOwnEdges)
        .where(col("own") || col("rnk") <= BeamFlipEdges)
        .drop("own", "dst_bucket")
        .join(b.select(col("vec_id").as("dst_id"), col("q"), col("n2")),
          Seq("dst_id"))
        .select("src_id", "dst_id", "cosine", "q", "n2", "rnk")
    }
  }

  /** HNSW-lite beam search (v16): entry through the probe's own LSH
    * bucket (the coarse locator — exactly v04's candidate set, scored in
    * full), then [[BeamHops]] rounds of frontier expansion through the
    * written CROSS-BUCKET graph ([[beamGraphEdges]], which embeds each
    * neighbor's vector, so hops score from the graph scan alone — no
    * corpus re-join per hop). Each hop: the per-probe top-[[BeamWidth]] of the newly
    * scored nodes becomes the frontier, its graph neighbors (minus
    * already-visited) are scored next. The final top-K ranks EVERYTHING
    * scored, so v16's candidate pool is a strict superset of v04's —
    * per-probe recall >= v04's single-probe recall BY CONSTRUCTION
    * (BeamSearchSpec asserts the aggregate is strictly above). This is
    * the standard escape from LSH's fixed partitioning: a near neighbor
    * hashed into a different bucket is reachable through the graph in a
    * hop or two.
    *
    * Scale shape: probes and frontiers are tiny and broadcast; each hop
    * is one broadcast join against the written graph stage + one
    * anti-join against the visited set (per-probe bounded); the per-hop
    * visited set is a written stage, so lineage stays flat across hops
    * (d24's contracted-loop discipline).
    */
  private[graft] def beamKnn(s: SparkSession, d: String,
      hops: Int = 0, width: Int = 0,
      pOverride: Option[Int] = None): DataFrame = {
    GraftNative.ensure(s)
    // entry buckets at the SAME (data-scaled) plane count the graph was
    // built with — at certification sfs this is bucketedQv verbatim.
    val (b, p) = beamBucketed(s, d, pOverride)
    // HNSW-style coarse entry instead of a longer walk: when the data-
    // scaled bucketing is FINER than the fixture planes, the entry probes
    // the probe's own bucket AND its p Hamming-1 flips (v06's disjoint
    // multi-probe set) — seeds land one flip away on EVERY plane, so a
    // bucket k flips away is reachable in k-1 graph hops from the best
    // entry instead of k hops from a single-bucket start. That keeps the
    // walk CONSTANT (`hops`/`width`, no per-plane scaling — the previous
    // scheme's effHops/effWidth grew linearly with gained planes, an 80-
    // wide walk by sf100) at entry cost (p+1) * target occupancy, i.e.
    // O(log n * 512) scored entry rows per probe. Certification sfs keep
    // the single-bucket entry bit-for-bit (p == LshPlanes).
    val graph = beamGraphEdges(s, d, pOverride)
    val entryBucket =
      if (p > LshPlanes) explode(probeBucketsP(col("bucket"), p))
      else col("bucket")
    // one row per probe (scoring side) vs one row per probed ENTRY
    // bucket (hop-0 join side) — the loop's re-score join must see each
    // probe once or the multi-probe explode would multiply candidates
    val probeVecs = b.where(col("vec_id") < NumProbes && col("n2") > 0)
      .select(col("vec_id").as("probe_id"), col("bucket"),
        col("q").as("p_q"), col("n2").as("p_n2"))
    val probes = probeVecs
      .select(col("probe_id"), entryBucket.as("p_bucket"),
        col("p_q"), col("p_n2"))
    def cosineCol = (GraftNative.longDot(col("p_q"), col("q")).cast("double") /
      sqrt((col("p_n2") * col("n2")).cast("double"))).as("cosine")
    val wB = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("vec_id"))
    // hop 0: the (multi-probe at scale) bucket entry, scored — probed
    // buckets are DISJOINT (each vector lives in one bucket), so no
    // candidate is scored twice
    val hop0 = b.join(broadcast(probes),
        col("bucket") === col("p_bucket") && col("vec_id") =!= col("probe_id"))
      .where(col("n2") > 0)
      .select(col("probe_id"), col("vec_id"), cosineCol)
    // two rolling slots: per-hop `scored` is WRITTEN (tiny — bounded by
    // width x BeamGraphK rows per probe) so the next hop's frontier plan
    // references only the latest written round, never a retired visited
    // dir; both loops then hold O(1) live stage dirs for any hop count
    val rollV = new Stage.Rolling(keep = 2)
    val rollS = new Stage.Rolling(keep = 2)
    // hops/width <= 0 = "the path's own shape": the fixture walk at
    // certification plane counts, the FIXED deeper scale walk above them;
    // explicit caller values (recall experiments) are honored verbatim
    val (defHops, defWidth) =
      if (p > LshPlanes) (BeamScaleHops, BeamScaleWidth) else (BeamHops, BeamWidth)
    val effHops = if (hops > 0) hops else defHops
    val effWidth = if (width > 0) width else defWidth
    var visited = rollV.table(hop0, "v16_visited")
    var frontier = visited.withColumn("r", row_number().over(wB))
      .where(col("r") <= effWidth).select(col("probe_id"), col("vec_id"))
    for (_ <- 1 to effHops) {
      val cand = graph
        .join(broadcast(frontier.withColumnRenamed("vec_id", "src_id")), Seq("src_id"))
        .select(col("probe_id"), col("dst_id").as("vec_id"), col("q"), col("n2"))
        .where(col("vec_id") =!= col("probe_id"))
        .dropDuplicates("probe_id", "vec_id")
        .join(visited.select("probe_id", "vec_id"), Seq("probe_id", "vec_id"), "left_anti")
      val scored = rollS.table(cand
        .join(broadcast(probeVecs.select("probe_id", "p_q", "p_n2")), Seq("probe_id"))
        .select(col("probe_id"), col("vec_id"), cosineCol), "v16_scored")
      visited = rollV.table(visited.unionByName(scored), "v16_visited")
      frontier = scored.withColumn("r", row_number().over(wB))
        .where(col("r") <= effWidth).select(col("probe_id"), col("vec_id"))
    }
    visited.withColumn("rnk", row_number().over(wB))
      .where(col("rnk") <= K)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rnk"), col("cosine"))
      .orderBy("probe_id", "rnk")
  }

  /** Raw v16 per-probe recall of the beam search against the exact
    * brute-force top-K — BeamSearchSpec asserts the floor and the strict
    * improvement over v04; the v16 entry emits [[certifiedRecall]].
    */
  def beamRecallRaw(s: SparkSession, d: String,
      hops: Int = 0, width: Int = 0,
      pOverride: Option[Int] = None): DataFrame = {
    val approx = beamKnn(s, d, hops, width, pOverride)
      .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit"))
    exactTopK(s, d).join(approx, Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"),
        count(col("hit")).as("n_hits"),
        (count(col("hit")).cast("double") / lit(K.toDouble)).as("recall"))
      .orderBy("probe_id")
  }

  /** Exact full-precision re-rank of an ADC shortlist + recall@K against
    * the exact brute-force ranking — the shared tail of v07/v08. Returns
    * the raw shape (probe_id, n_exact, n_hits, recall).
    */
  private def rerankAndRecall(s: SparkSession, d: String,
      adc: Dataset[ScoredNeighbor]): DataFrame = {
    val qv = quantized(s, d)
    val shortlist = partialTopK(adc, PqShortlist).toDF()
      .select(col("probe_id"), col("vec_id"))
    val probes = qv.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("q").as("p_q"), col("n2").as("p_n2"))
    val rescored = shortlist
      .join(qv.select(col("vec_id"), col("q"), col("n2")), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .where(col("p_n2") > 0 && col("n2") > 0)
      .select(col("probe_id"), col("vec_id"),
        (GraftNative.longDot(col("p_q"), col("q")).cast("double") /
          sqrt((col("p_n2") * col("n2")).cast("double"))).as("cosine"))
      .as[ScoredNeighbor](Encoders.product[ScoredNeighbor])
    val w = Window.partitionBy("probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val approx = partialTopK(rescored, K).toDF()
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= K)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), lit(1).as("hit"))
    val exact = exactTopK(s, d)
    exact.join(approx, Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n_exact"),
        count(col("hit")).as("n_hits"),
        (count(col("hit")).cast("double") / lit(K.toDouble)).as("recall"))
      .orderBy("probe_id")
  }

  /** The driver-certifiable view of a raw recall frame: the exact-side
    * count (oracle-computable from the brute-force ranking) plus the
    * bound check itself — `recall >= RecallFloor` as a bit-stable
    * boolean whose truth depends on the real two-stage search. The
    * oracle computes the same n_exact and literal TRUE.
    */
  private def certifiedRecall(raw: DataFrame, floor: Double = RecallFloor): DataFrame =
    raw.select(col("probe_id"), col("n_exact"),
      (col("recall") >= floor).as("recall_floor_met"))
      .orderBy("probe_id")

  /** DuckDB twin of [[certifiedRecall]]: the exact brute-force top-K per
    * probe (the recall denominator — real work, not a literal) and TRUE
    * for the floor check the Spark side computes from its sketch search.
    */
  private def recallFloorSql: String =
    s"""WITH $qvSql,
       |exact_scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, $cosineSql AS cosine
       |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
       |  WHERE p.vec_id < $NumProbes AND p.n2 > 0 AND c.n2 > 0
       |),
       |exact_rank AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY probe_id
       |                              ORDER BY cosine DESC, neighbor_id) AS rnk
       |    FROM exact_scored) WHERE rnk <= $K
       |)
       |SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_floor_met
       |FROM exact_rank GROUP BY probe_id ORDER BY probe_id""".stripMargin

  /** Raw v07 per-probe recall (probe_id, n_exact, n_hits, recall): the
    * PQ two-stage search (ADC shortlist over packed codes + exact
    * re-rank) scored against the exact brute-force top-K. PqSpec asserts
    * the floor/mean/determinism on this; the v07 query entry emits the
    * oracle-certifiable [[certifiedRecall]] view of it.
    */
  def pqRecallRaw(s: SparkSession, d: String): DataFrame = {
    import graft.operators.ProductQuantizer
    val qv = quantized(s, d)
    val (sv, codebook, packed) = pqIndex(s, d)
    val probeSv = sv.where(col("vec_id") < NumProbes)
    val probeNorms = qv.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("n2").as("p_n2"))
    val adc = ProductQuantizer
      .adcScores(probeSv, codebook, packed, probeNorms, PqSubs)
      .where(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("approx_cosine").as("cosine"))
      .as[ScoredNeighbor](Encoders.product[ScoredNeighbor])
    rerankAndRecall(s, d, adc)
  }

  /** Raw v08 per-probe recall: IVF-PQ composite — trained k-means coarse
    * cells ([[graft.operators.KMeansIvf]], NOT the fixture's semantic
    * `label`: classes are not geometric clusters) prune WHICH vectors are
    * scored, PQ codes compress HOW. At scale the packed index is WRITTEN
    * partitioned by cell, making the restriction a partition-pruned read
    * instead of a join.
    */
  def ivfpqRecallRaw(s: SparkSession, d: String): DataFrame = {
    import graft.operators.ProductQuantizer
    val qv = quantized(s, d)
    val (sv, codebook, packed) = pqIndex(s, d)
    val cells = Stage.sharedTable(s, "ivf_cells", d) {
      val centroids = graft.operators.KMeansIvf.fit(qv, IvfCells, IvfIters)
      graft.operators.KMeansIvf.cells(qv, centroids)
    }
    val probeCells = cells.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("cell").as("p_cell"))
    val probeSv = sv.where(col("vec_id") < NumProbes)
    val probeNorms = qv.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("n2").as("p_n2"))
    val adc = ProductQuantizer
      .adcScores(probeSv, codebook, packed, probeNorms, PqSubs)
      .join(cells, Seq("vec_id"))
      .join(broadcast(probeCells), Seq("probe_id"))
      .where(col("cell") === col("p_cell") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("approx_cosine").as("cosine"))
      .as[ScoredNeighbor](Encoders.product[ScoredNeighbor])
    rerankAndRecall(s, d, adc)
  }

  /** Brute/IVF/filtered top-k from one body: `candidateFilter` restricts
    * the ELIGIBLE candidate set BEFORE the probe join (v09's metadata
    * pre-filter); `sameCellOnly` restricts the search to the probe's cell
    * (v02's IVF form).
    */
  private def knn(s: SparkSession, d: String, sameCellOnly: Boolean,
                  candidateFilter: Option[Column] = None): DataFrame = {
    val qv = quantized(s, d)
    val probes = qv.where(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("label").as("p_label"),
        col("q").as("p_q"), col("n2").as("p_n2"))
    val cands = candidateFilter.fold(qv)(qv.where)
    scoreAndRank(
      if (sameCellOnly)
        cands.join(broadcast(probes), col("label") === col("p_label") &&
          col("vec_id") =!= col("probe_id"))
      else
        cands.join(broadcast(probes), col("vec_id") =!= col("probe_id")))
  }

  /** The exact brute-force top-K (the recall denominator) as a memoized
    * WRITTEN stage shared by every recall evaluation (v05/v06/v07/v08):
    * the full-scan scoring pass is the expensive side of an ANN eval, and
    * production computes the ground-truth ranking for a probe sample ONCE
    * and scores every index build against it. v01 deliberately does NOT
    * read this stage — it is the honest standalone cost of the brute
    * scan.
    */
  private def exactTopK(s: SparkSession, d: String): DataFrame =
    Stage.sharedTable(s, "exact_topk", d) {
      knn(s, d, sameCellOnly = false).select("probe_id", "neighbor_id")
    }

  /** Random-hyperplane LSH: `LshPlanes` fixed ±1 hyperplanes (seeded, the
    * SAME literal matrix embedded in the Spark plan and the oracle SQL);
    * bucket = concatenated sign bits of the plane dot products. Cosine-
    * similar vectors agree on most sign bits, so near neighbors land in
    * the same bucket and search touches ~N/2^planes of the data — the
    * hash-based alternative to IVF cells (v02) when no trained centroids
    * exist. v04 is the single-probe (exact-bucket) lookup;
    * [[lshKnnMultiProbe]] probes the Hamming-1 neighbor buckets too, and
    * v06 measures the recall gain over v05's single-probe.
    */
  val LshPlanes = 4 // 2^4 buckets: populated even at the smallest test sf;
                    // at production N, more planes = finer pruning
  /** Upper bound of the shared hyperplane pool ([[beamPlaneCount]] never
    * asks for more — 2^16 buckets holds per-bucket occupancy at
    * [[BeamBucketTarget]] up to ~34M vectors; beyond that, raise it).
    */
  val MaxPlanes = 16
  private val allPlanes: Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(42)
    // one seeded stream: the first LshPlanes planes are bit-identical to
    // the 4-plane history every oracle-pinned bucket expression uses
    Seq.fill(MaxPlanes)(Seq.fill(64)(if (rnd.nextBoolean()) 1L else -1L))
  }
  private val planes: Seq[Seq[Long]] = allPlanes.take(LshPlanes)

  private[graft] def lshBucket(q: Column): Column = lshBucketP(q, LshPlanes)

  /** [[lshBucket]] at an explicit plane count (prefix of the same seeded
    * pool) — the beam machinery's data-scaled bucketing.
    */
  private[graft] def lshBucketP(q: Column, p: Int): Column =
    concat(allPlanes.take(p).map(pl =>
      when(GraftNative.longDot(q, typedlit(pl)) >= 0, lit("1")).otherwise(lit("0"))): _*)

  private[queries] def lshBucketSql(q: String): String =
    planes.map { p =>
      val lits = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip($q, $lits), s -> s[1] * s[2])) >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")

  /** DuckDB twin of the multi-probe bucket match: Hamming distance between
    * two `LshPlanes`-char sign-bit strings is <= 1 (own bucket or one
    * plane flipped).
    */
  private[queries] def bucketHamLe1Sql(a: String, b: String): String =
    "(" + (1 to LshPlanes).map(i =>
      s"(CASE WHEN substring($a, $i, 1) <> substring($b, $i, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ") + ") <= 1"

  private def knnSql(cellPredicate: String): String =
    s"""WITH $qvSql,
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |         $cosineSql AS cosine
       |  FROM n p JOIN n c ON c.vec_id <> p.vec_id $cellPredicate
       |  WHERE p.vec_id < $NumProbes AND p.n2 > 0 AND c.n2 > 0
       |),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id
       |                            ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored
       |)
       |SELECT probe_id, neighbor_id, rnk, cosine FROM ranked
       |WHERE rnk <= $K ORDER BY probe_id, rnk""".stripMargin

  /** DuckDB twin of the tombstone-masked probe (shared by v13, which
    * masks at query time, and v14, which compacts the deletes into the
    * files — both must produce exactly these answers).
    */
  private def tombstoneMaskedSql: String =
    s"""WITH ${DedupQueries.dupEmbSql},
       |qv AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM dupemb
       |),
       |n AS (SELECT vec_id, q,
       |        CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM qv),
       |b AS (SELECT vec_id, q, n2, ${lshBucketSql("q")} AS bucket FROM n),
       |tomb AS (
       |  SELECT vec_id FROM dupemb
       |  WHERE vec_id % $TombstoneMod = 0 AND vec_id < ${DedupQueries.BatchIdOffset}
       |),
       |scored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |         $cosineSql AS cosine
       |  FROM b p JOIN b c ON c.bucket = p.bucket
       |  WHERE p.vec_id >= ${DedupQueries.BatchIdOffset}
       |    AND c.vec_id < ${DedupQueries.BatchIdOffset}
       |    AND c.vec_id NOT IN (SELECT vec_id FROM tomb)
       |    AND p.n2 > 0 AND c.n2 > 0
       |),
       |ranked AS (
       |  SELECT probe_id, neighbor_id, cosine,
       |         ROW_NUMBER() OVER (PARTITION BY probe_id
       |                            ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored
       |)
       |SELECT probe_id, neighbor_id, rnk, cosine FROM ranked
       |WHERE rnk <= $K ORDER BY probe_id, rnk""".stripMargin

  val entries: Seq[Q] = Seq(

    // Exact top-k cosine, brute force over a broadcast probe set.
    Q("v01_knn_brute", knnSql("")) { (s, d) =>
      knn(s, d, sameCellOnly = false)
    },

    // IVF-style: search only the probe's cell (label = coarse centroid id).
    Q("v02_knn_ivf", knnSql("AND c.label = p.label")) { (s, d) =>
      knn(s, d, sameCellOnly = true)
    },

    // Filtered ANN — vector search under a metadata predicate (the
    // vector-db "filtered search" problem; vec_id parity stands in for a
    // metadata attribute). The filter applies BEFORE ranking
    // (PRE-filtering): top-k is exact over the eligible subset, whereas
    // post-filtering an unfiltered top-k silently returns fewer than k
    // rows and misses eligible neighbors ranked k+1 and beyond. At scale
    // the predicate is a plain Catalyst filter on the candidate scan —
    // pushed below the probe join, pruning before any distance math.
    Q("v09_knn_filtered", knnSql("AND c.vec_id % 2 = 0")) { (s, d) =>
      knn(s, d, sameCellOnly = false,
        candidateFilter = Some(col("vec_id") % 2 === 0))
    },

    // Incremental ANN ingest (batch twin of the streaming operator in
    // [[graft.streaming.AnnStreams]]): the injected new-vector batch
    // (vec_id >= BatchIdOffset, the d-family's dupEmb fixture) probes the
    // WRITTEN corpus bucket index asymmetrically — d14's admission-control
    // shape transplanted to the v-family. The corpus is bucketed ONCE
    // (shared written stage) and never self-joined or re-signed; the
    // batch is tiny and broadcasts into the index scan; top-k rides the
    // same bounded reduce as every other v query. AnnStreamsSpec pins the
    // streaming operator to this exact output (batch parity).
    Q("v10_incremental_ann",
      s"""WITH ${DedupQueries.dupEmbSql},
         |qv AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM dupemb
         |),
         |n AS (SELECT vec_id, q,
         |        CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM qv),
         |b AS (SELECT vec_id, q, n2, ${lshBucketSql("q")} AS bucket FROM n),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |         $cosineSql AS cosine
         |  FROM b p JOIN b c ON c.bucket = p.bucket
         |  WHERE p.vec_id >= ${DedupQueries.BatchIdOffset}
         |    AND c.vec_id < ${DedupQueries.BatchIdOffset}
         |    AND p.n2 > 0 AND c.n2 > 0
         |),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY probe_id
         |                            ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored
         |)
         |SELECT probe_id, neighbor_id, rnk, cosine FROM ranked
         |WHERE rnk <= $K ORDER BY probe_id, rnk""".stripMargin) { (s, d) =>
      val bucketed = dupEmbIndexWithPath(s, d)._1
      val index = bucketed.where(col("vec_id") < DedupQueries.BatchIdOffset)
      val probes = bucketed.where(col("vec_id") >= DedupQueries.BatchIdOffset)
        .select(col("vec_id").as("probe_id"), col("bucket").as("p_bucket"),
          col("q").as("p_q"), col("n2").as("p_n2"))
      scoreAndRank(index.join(broadcast(probes),
        col("bucket") === col("p_bucket")))
    },

    // Corpus-wide kNN GRAPH construction — every vector's top-k neighbors
    // (not a small probe set): the input artifact of SemDeDup-style
    // semantic curation, graph clustering, and label propagation. The
    // all-pairs form is O(N^2) and never acceptable; this build restricts
    // candidates to LSH bucket-mates (the same hyperplane buckets v04
    // searches), making cost sum-of-squared-bucket-sizes — with
    // [[LshPlanes]] planes the expected bucket is N/2^planes, and
    // production raises the plane count with N (plus d04's oversized-cell
    // sub-bucketing where a degenerate bucket forms) to keep every bucket
    // bounded. Spark shape: the bucketed+quantized table is a WRITTEN
    // stage scanned by both sides of ONE equi-join on the bucket key
    // (never a cross product; md5-uniform keys, AQE splits any residual
    // skew), each side's integer dot runs in the codegen'd native
    // expression, and the per-source top-k rides the same
    // WindowGroupLimit partial group limit as the probe queries — at most
    // k rows per source leave each map partition.
    Q("v11_knn_graph",
      s"""WITH $qvSql,
         |b AS (SELECT vec_id, q, n2, ${lshBucketSql("q")} AS bucket FROM n),
         |scored AS (
         |  SELECT p.vec_id AS src_id, c.vec_id AS dst_id,
         |         $cosineSql AS cosine
         |  FROM b p JOIN b c ON c.bucket = p.bucket AND c.vec_id <> p.vec_id
         |  WHERE p.n2 > 0 AND c.n2 > 0
         |),
         |ranked AS (
         |  SELECT src_id, dst_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY src_id
         |                            ORDER BY cosine DESC, dst_id) AS rnk
         |  FROM scored
         |)
         |SELECT src_id, dst_id, rnk, cosine FROM ranked
         |WHERE rnk <= $KnnGraphK ORDER BY src_id, rnk""".stripMargin) { (s, d) =>
      knnGraphEdges(s, d)
        .select("src_id", "dst_id", "rnk", "cosine")
        .orderBy("src_id", "rnk")
    },

    // Exact-quota stratified sampling — the class-balancing primitive of
    // dataset curation (equal per-class budgets for eval sets / balanced
    // fine-tuning mixtures), complementing t14's EXPECTED-count ppm
    // weighting with an EXACT-count draw: per label, keep precisely
    // min(n, [[StratQuota]]) vectors, chosen by md5(vec_id) hash-rank —
    // a deterministic uniform order, so the same vectors are kept on
    // every run, engine, and partitioning (rand() could never certify).
    // Scale shape: the rank window partitions by label with a LITERAL
    // rank filter, so Spark plans WindowGroupLimit — at most quota rows
    // per label leave each map partition before the shuffle — and the
    // rollup is a |labels|-row aggregate. kept_id_sum is an order-free
    // integer checksum certifying WHICH rows were kept, not just how
    // many.
    Q("v12_stratified_sample",
      s"""WITH r AS (
         |  SELECT label, vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY label
         |                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
         |  FROM embeddings
         |),
         |c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_total FROM embeddings GROUP BY label)
         |SELECT r.label, c.n_total,
         |       CAST(COUNT(*) AS BIGINT) AS n_kept,
         |       CAST(SUM(r.vec_id) AS BIGINT) AS kept_id_sum
         |FROM r JOIN c ON r.label = c.label
         |WHERE r.rk <= $StratQuota
         |GROUP BY r.label, c.n_total ORDER BY r.label""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).select("label", "vec_id")
      val w = Window.partitionBy("label")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      val kept = emb.withColumn("rk", row_number().over(w))
        .where(col("rk") <= StratQuota)
      val c = emb.groupBy("label").agg(count(lit(1)).as("n_total"))
      kept.join(c, Seq("label"))
        .groupBy("label", "n_total")
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("kept_id_sum"))
        .orderBy("label")
    },

    // ANN deletions without an index rebuild (v13): production vector
    // stores take deletes as a keyed tombstone set and mask them at
    // query time — rebuilding a 100 TB index per delete batch is not an
    // option. The WRITTEN bucket index (the SAME shared stage v10
    // probes) is anti-joined against the tombstone list before scoring:
    // the tombstone side is small by construction (a delete batch), so
    // the anti-join broadcasts and the index scan streams through it —
    // the plan a compaction job later makes permanent. Fixture deletes
    // every 9th corpus vector, which demonstrably changes several
    // probes' top-k vs v10 (pinned non-vacuous in RetrievalSpec).
    Q("v13_ann_tombstones", tombstoneMaskedSql) { (s, d) =>
      val bucketed = dupEmbIndexWithPath(s, d)._1
      val index = bucketed.where(col("vec_id") < DedupQueries.BatchIdOffset)
        // size-guarded hint (graft.operators.Joins): a delete batch
        // broadcasts; a bulk delete routed through the tombstone path
        // degrades to a shuffle anti-join instead of OOMing the driver
        .join(graft.operators.Joins.sizedBroadcast(tombstones(s, d)),
          Seq("vec_id"), "left_anti")
      val probes = bucketed.where(col("vec_id") >= DedupQueries.BatchIdOffset)
        .select(col("vec_id").as("probe_id"), col("bucket").as("p_bucket"),
          col("q").as("p_q"), col("n2").as("p_n2"))
      scoreAndRank(index.join(broadcast(probes),
        col("bucket") === col("p_bucket")))
    },

    // Tombstone COMPACTION (v14): the other half of the delete lifecycle
    // v13's own comment promises — a compaction job rewrites the written
    // bucket index MINUS the tombstone set (size-guarded broadcast
    // anti-join, then [[graft.operators.SnapshotLog.writeClustered]] on
    // the bucket key, the writer OPTIMIZE uses, into OPTIMIZE's file
    // count for the input bytes, [[graft.sql.SnapshotDml.fileCount]]),
    // and steady-state queries probe the compacted files with NO mask at
    // all.
    // Certification: the compacted probe must produce EXACTLY v13's
    // masked answers (same oracle SQL) — if compaction dropped a live
    // row, kept a deleted one, or perturbed the layout-sensitive scoring,
    // the hash fails. CompactionSpec additionally pins the physical
    // facts: tombstoned ids absent from the FILES, row-count parity, and
    // at most the planned file count.
    Q("v14_ann_compaction", tombstoneMaskedSql) { (s, d) =>
      val (_, idxPath) = dupEmbIndexWithPath(s, d)
      val tomb = tombstones(s, d)
      val compactedDir = Stage.sharedDir(s, "v14_compacted", d) { out =>
        val p = new org.apache.hadoop.fs.Path(idxPath)
        val bytes = p.getFileSystem(s.sessionState.newHadoopConf())
          .getContentSummary(p).getLength
        graft.operators.SnapshotLog.writeClustered(
          s.read.parquet(idxPath).join(graft.operators.Joins.sizedBroadcast(tomb),
            Seq("vec_id"), "left_anti"),
          Seq("bucket"), graft.sql.SnapshotDml.fileCount(bytes), out)
      }
      val compacted = s.read.parquet(compactedDir)
      val index = compacted.where(col("vec_id") < DedupQueries.BatchIdOffset)
      val probes = compacted.where(col("vec_id") >= DedupQueries.BatchIdOffset)
        .select(col("vec_id").as("probe_id"), col("bucket").as("p_bucket"),
          col("q").as("p_q"), col("n2").as("p_n2"))
      scoreAndRank(index.join(broadcast(probes),
        col("bucket") === col("p_bucket")))
    },

    // The ANN index AS a snapshot table (v17) — the lakehouse layer
    // managing the vector-index lifecycle, composing the two families
    // m11-m16 and v13/v14 built separately: the written bucket index is
    // committed as a [[graft.operators.SnapshotLog]] table keyed by
    // vec_id, the v13 tombstone batch lands as a MERGE-ON-READ delete
    // vector (one key-list parquet + one manifest create — NO index file
    // rewritten, the v13 "delete without rebuild" contract with crash
    // safety and time travel on top), and the probe scans
    // [[SnapshotLog.readLatest]], whose mask anti-join is exactly v13's
    // query-time mask. The oracle is v13/v14's DuckDB twin VERBATIM —
    // the THIRD physical route (query-time mask / compacted files /
    // transaction-log delete vector) certified to one logical answer.
    // OPTIMIZE (SnapshotLog.optimize) then materializes the mask away
    // CDC-invisibly — v14's job with a commit protocol —
    // AnnSnapshotSpec pins those physical facts plus pre-delete time
    // travel of the index.
    Q("v17_ann_snapshot_mor", tombstoneMaskedSql) { (s, d) =>
      import graft.operators.SnapshotLog
      val dir = Stage.sharedDir(s, "v17_snap_index", d) { out =>
        val (idx, _) = dupEmbIndexWithPath(s, d)
        SnapshotLog.init(s, out, idx, "vec_id", numFiles = 8)
        SnapshotLog.deleteKeys(s, out, tombstones(s, d), "vec_id")
      }
      val masked = SnapshotLog.readLatest(s, dir)
      val index = masked.where(col("vec_id") < DedupQueries.BatchIdOffset)
      val probes = masked.where(col("vec_id") >= DedupQueries.BatchIdOffset)
        .select(col("vec_id").as("probe_id"), col("bucket").as("p_bucket"),
          col("q").as("p_q"), col("n2").as("p_n2"))
      scoreAndRank(index.join(broadcast(probes),
        col("bucket") === col("p_bucket")))
    },

    // STREAMING ANN ingest by table NAME (v18): v10's incremental-index
    // semantics driven through the by-name snapshot surface — the vector
    // family's composition of the streaming write protocol, the way d31
    // composed it with the dedup admission. The LSH index lives as a
    // catalog table identity-PARTITIONED BY its `bucket` column
    // (`graft.v18idx`, CTAS'd from the corpus), two probe waves arrive
    // as separate micro-batches, and each epoch probes the COMMITTED
    // index pruned to its own cells (partition-tree pruning — per-epoch
    // cost is the matching `pt_bucket=` directories, never the index),
    // writes ranked matches deterministically, then commits its rows
    // under the txn-stamp protocol
    // ([[graft.streaming.AnnStreams.ingestByName]]). The oracle
    // recomputes both waves relationally — wave 1 scored against the
    // corpus alone, wave 2 against corpus PLUS wave 1 — so a wave that
    // failed to see an earlier wave's vectors (index not growing), saw
    // its own (replay leak), or scored against uncommitted rows breaks
    // the hash. Replay/restart semantics are AnnStreamsSpec's.
    Q("v18_stream_ann_ingest",
      s"""WITH ${DedupQueries.dupEmbSql},
         |qv AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
         |  FROM dupemb
         |),
         |n AS (SELECT vec_id, q,
         |        CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2 FROM qv),
         |b AS (SELECT vec_id, q, n2, ${lshBucketSql("q")} AS bucket FROM n),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |         $cosineSql AS cosine
         |  FROM b p JOIN b c ON c.bucket = p.bucket
         |  WHERE p.vec_id >= ${DedupQueries.BatchIdOffset}
         |    AND p.n2 > 0 AND c.n2 > 0
         |    AND (c.vec_id < ${DedupQueries.BatchIdOffset}
         |         OR (p.vec_id % 100 = 50 AND c.vec_id % 100 = 0))
         |),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY probe_id
         |                            ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored
         |)
         |SELECT probe_id, neighbor_id, rnk, cosine FROM ranked
         |WHERE rnk <= $K ORDER BY probe_id, rnk""".stripMargin) { (s, d) =>
      val base = Stage.sharedDir(s, "v18_ingest", d) { out =>
        GraftTableCatalog.withLocation(s, out) {
          val dup = DedupQueries.dupEmb(s, d)
          graft.streaming.AnnStreams.indexRows(
            dup.where(col("vec_id") < DedupQueries.BatchIdOffset))
            .createOrReplaceTempView("v18_corpus")
          s.sql("CREATE TABLE graft.v18idx PARTITIONED BY (bucket) " +
            "TBLPROPERTIES ('key'='vec_id') AS SELECT * FROM v18_corpus")
          val batch = dup.where(col("vec_id") >= DedupQueries.BatchIdOffset)
            .select("vec_id", "embedding")
          batch.where(col("vec_id") % 100 === 0)
            .coalesce(1).write.parquet(s"$out/feed/w1")
          batch.where(col("vec_id") % 100 === 50)
            .coalesce(1).write.parquet(s"$out/feed/w2")
          val feedSchema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("embedding",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType))))
          val q = graft.streaming.AnnStreams.ingestByName(
            s.readStream.schema(feedSchema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(s"$out/feed"),
            "graft.v18idx", "v18-ingest", s"$out/matches")
            .option("checkpointLocation", s"$out/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          ()
        }
      }
      s.read.parquet(s"$base/matches/epoch=*")
        .select("probe_id", "neighbor_id", "rnk", "cosine")
        .orderBy("probe_id", "rnk")
    },

    // LSH-bucketed: search only the probe's random-hyperplane bucket.
    Q("v04_knn_lsh",
      s"""WITH $qvSql,
         |b AS (SELECT vec_id, label, q, n2, ${lshBucketSql("q")} AS bucket FROM n),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |         $cosineSql AS cosine
         |  FROM b p JOIN b c ON c.vec_id <> p.vec_id AND c.bucket = p.bucket
         |  WHERE p.vec_id < $NumProbes AND p.n2 > 0 AND c.n2 > 0
         |),
         |ranked AS (
         |  SELECT probe_id, neighbor_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY probe_id
         |                            ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored
         |)
         |SELECT probe_id, neighbor_id, rnk, cosine FROM ranked
         |WHERE rnk <= $K ORDER BY probe_id, rnk""".stripMargin) { (s, d) =>
      lshKnn(s, d)
    },

    // ANN quality evaluation: recall@K of the LSH index (v04) against the
    // exact brute-force top-k (v01) — "measure, don't guess" for the
    // approximate path, certified by the oracle computing the same two
    // rankings and the same intersection. The exact side is the expensive
    // one and exists only at evaluation time (sampled probes); production
    // monitors recall on a probe sample exactly like this.
    Q("v05_ann_recall",
      s"""WITH $qvSql,
         |b AS (SELECT vec_id, label, q, n2, ${lshBucketSql("q")} AS bucket FROM n),
         |exact_scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, $cosineSql AS cosine
         |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < $NumProbes AND p.n2 > 0 AND c.n2 > 0
         |),
         |exact_rank AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY probe_id
         |                              ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM exact_scored) WHERE rnk <= $K
         |),
         |lsh_scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, $cosineSql AS cosine
         |  FROM b p JOIN b c ON c.vec_id <> p.vec_id AND c.bucket = p.bucket
         |  WHERE p.vec_id < $NumProbes AND p.n2 > 0 AND c.n2 > 0
         |),
         |lsh_rank AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY probe_id
         |                              ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM lsh_scored) WHERE rnk <= $K
         |)
         |SELECT e.probe_id,
         |       CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
         |       CAST(COUNT(l.neighbor_id) AS DOUBLE) / $K.0 AS recall
         |FROM exact_rank e LEFT JOIN lsh_rank l
         |  ON e.probe_id = l.probe_id AND e.neighbor_id = l.neighbor_id
         |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin) { (s, d) =>
      val exact = exactTopK(s, d)
      val approx = lshKnn(s, d)
        .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit"))
      exact.join(approx, Seq("probe_id", "neighbor_id"), "left")
        .groupBy("probe_id")
        .agg(count(col("hit")).as("n_hits"),
          (count(col("hit")).cast("double") / lit(K.toDouble)).as("recall"))
        .orderBy("probe_id")
    },

    // Multi-probe recall: the same recall@K evaluation with the ±1-bit
    // neighbor buckets probed as well — certifying that multi-probe
    // strictly improves on v05's single-probe at equal planes (a
    // MultiProbeSpec test asserts the strict inequality on the fixture).
    Q("v06_ann_recall_multiprobe",
      s"""WITH $qvSql,
         |b AS (SELECT vec_id, label, q, n2, ${lshBucketSql("q")} AS bucket FROM n),
         |exact_scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, $cosineSql AS cosine
         |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id < $NumProbes AND p.n2 > 0 AND c.n2 > 0
         |),
         |exact_rank AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY probe_id
         |                              ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM exact_scored) WHERE rnk <= $K
         |),
         |lsh_scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, $cosineSql AS cosine
         |  FROM b p JOIN b c ON c.vec_id <> p.vec_id
         |                   AND ${bucketHamLe1Sql("p.bucket", "c.bucket")}
         |  WHERE p.vec_id < $NumProbes AND p.n2 > 0 AND c.n2 > 0
         |),
         |lsh_rank AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY probe_id
         |                              ORDER BY cosine DESC, neighbor_id) AS rnk
         |    FROM lsh_scored) WHERE rnk <= $K
         |)
         |SELECT e.probe_id,
         |       CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
         |       CAST(COUNT(l.neighbor_id) AS DOUBLE) / $K.0 AS recall
         |FROM exact_rank e LEFT JOIN lsh_rank l
         |  ON e.probe_id = l.probe_id AND e.neighbor_id = l.neighbor_id
         |GROUP BY e.probe_id ORDER BY e.probe_id""".stripMargin) { (s, d) =>
      val exact = exactTopK(s, d)
      val approx = lshKnnMultiProbe(s, d)
        .select(col("probe_id"), col("neighbor_id"), lit(1).as("hit"))
      exact.join(approx, Seq("probe_id", "neighbor_id"), "left")
        .groupBy("probe_id")
        .agg(count(col("hit")).as("n_hits"),
          (count(col("hit")).cast("double") / lit(K.toDouble)).as("recall"))
        .orderBy("probe_id")
    },

    // Product-quantization ANN recall, two-stage (ADC shortlist + exact
    // re-rank): train per-subspace codebooks, encode the corpus to 4
    // codes + a norm per vector (the memory-bound scale path: a
    // billion-vector index in bytes-per-vector), score every vector
    // map-side via asymmetric distance (broadcast per-probe lookup
    // tables — the packed index never shuffles; see
    // [[graft.operators.ProductQuantizer.adcScores]]), keep the top
    // `PqShortlist` per probe, then re-rank ONLY the shortlist with
    // full-precision cosine — the standard production pairing
    // (compressed codes prune, exact scoring touches k-shortlist rows
    // per probe). Recall@K is reported against the exact brute-force
    // ranking, v05-style. The nested per-subspace k-means is beyond
    // reasonable SQL, so the ORACLE-certified output is the bound check:
    // (probe_id, n_exact, recall >= RecallFloor) vs the oracle's exact
    // brute-force count and literal TRUE — see [[certifiedRecall]].
    // PqSpec asserts the raw recalls ([[pqRecallRaw]]), determinism, and
    // the two-stage > raw-ADC ordering.
    Q("v07_ann_recall_pq", recallFloorSql) { (s, d) =>
      certifiedRecall(pqRecallRaw(s, d))
    },

    // IVF-PQ composite (the faiss-style production index): coarse IVF
    // cells prune WHICH vectors are scored (only the probe's cell — the
    // `label` assignment, as v02), PQ codes compress HOW they are scored
    // (map-side ADC over packed codes, as v07), and the exact re-rank
    // touches only the shortlist. Cost per probe: |cell|/|corpus| of the
    // data, in bytes-per-vector memory — multiplicative pruning the
    // standalone variants can't reach. Recall is reported against the
    // GLOBAL exact top-k, so the number honestly compounds both stages'
    // misses (cell miss: the true neighbor lives in another cell; code
    // miss: ADC ranks it off the shortlist). Certified v07-style:
    // (probe_id, n_exact, recall_floor_met) vs the oracle's brute-force
    // count and literal TRUE; PqSpec asserts the raw recalls.
    Q("v08_ann_recall_ivfpq", recallFloorSql) { (s, d) =>
      certifiedRecall(ivfpqRecallRaw(s, d))
    },

    // Graph-based ANN (HNSW-lite beam search, v16): LSH bucket entry +
    // bounded frontier expansion through the written kNN graph — see
    // [[beamKnn]]. The iterative walk is beyond reasonable SQL, so the
    // oracle-certified output is the v07/v08 bound-check shape:
    // (probe_id, n_exact, recall_floor_met) against the oracle's exact
    // brute-force count and literal TRUE. BeamSearchSpec asserts the raw
    // recalls: per-probe >= v04's single-probe recall (structural — the
    // beam pool is a superset of the bucket pool) and strictly above in
    // aggregate, i.e. the graph hops demonstrably buy recall.
    Q("v16_ann_recall_beam", recallFloorSql) { (s, d) =>
      certifiedRecall(beamRecallRaw(s, d), BeamRecallFloor)
    },

    // Nearest centroid per vector: the assignment step of IVF/k-means.
    // Centroids are exact integer mean-numerators (sum vectors + counts)
    // per label — no floating accumulation; scoring divides once at the
    // edge. At scale this is one map-side pass against a broadcast
    // centroid table; the argmax is a hash AGGREGATE — min(struct(-score,
    // label, ...)), the same collapse as [[graft.operators.KMeansIvf.assign]]
    // — so the |vectors| x |labels| fan-out reduces map-side to one row
    // per vec_id before any shuffle, where a ranking window would shuffle
    // and sort the whole fan-out (k x the shuffle volume).
    Q("v03_nearest_centroid",
      s"""WITH $qvSql,
         |elems AS (
         |  SELECT label, generate_subscripts(q, 1) AS i, unnest(q) AS x FROM qv
         |),
         |cent AS (
         |  SELECT label, i, CAST(SUM(x) AS BIGINT) AS sx, COUNT(*) AS cnt
         |  FROM elems GROUP BY label, i
         |),
         |vec_elems AS (
         |  SELECT vec_id, label, generate_subscripts(q, 1) AS i, unnest(q) AS x FROM qv
         |),
         |scores AS (
         |  SELECT v.vec_id, c.label AS cand_label,
         |         CAST(SUM(v.x * c.sx) AS BIGINT) AS dot_num,
         |         CAST(SUM(c.sx * c.sx) AS BIGINT) AS cn2_num,
         |         MAX(c.cnt) AS cnt
         |  FROM vec_elems v JOIN cent c ON v.i = c.i
         |  GROUP BY v.vec_id, c.label
         |),
         |best AS (
         |  SELECT s.vec_id, s.cand_label,
         |         CAST(s.dot_num AS DOUBLE) / sqrt(CAST(s.cn2_num AS DOUBLE)) AS score,
         |         ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |                            ORDER BY CAST(s.dot_num AS DOUBLE) / sqrt(CAST(s.cn2_num AS DOUBLE)) DESC,
         |                                     s.cand_label) AS rnk
         |  FROM scores s WHERE s.cn2_num > 0
         |)
         |SELECT vec_id, cand_label AS nearest_label, score FROM best
         |WHERE rnk = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      val qv = quantized(s, d)
      // exact integer centroid numerators: element-wise vector sum per
      // label via the typed Aggregator (map-side partial agg; dimension
      // comes from the data, not a constant)
      val sums = qv.groupBy("label").agg(
        graft.functions.VecSumAgg.vecSum(col("q")).as("sq"),
        count(lit(1)).as("cnt"))
      val cand = sums.select(col("label").as("cand_label"), col("sq"), col("cnt"))
      // argmax(score) tie-broken by lowest label, as a lexicographic
      // struct MIN: (-score, cand_label). Scores are never NaN
      // (cn2_num > 0) and never -0.0 (long-cast numerators), so the
      // negation is order-exact.
      qv.join(broadcast(cand))
        .withColumn("dot_num", GraftNative.longDot(col("q"), col("sq")))
        .withColumn("cn2_num", GraftNative.longDot(col("sq"), col("sq")))
        .where(col("cn2_num") > 0)
        .withColumn("score", col("dot_num").cast("double") / sqrt(col("cn2_num").cast("double")))
        .groupBy("vec_id")
        .agg(min(struct((-col("score")).as("neg_score"), col("cand_label"),
          col("score"))).as("best"))
        .select(col("vec_id"), col("best.cand_label").as("nearest_label"),
          col("best.score").as("score"))
        .orderBy("vec_id")
    },

    // Chunk-level retrieval (v15) — late-interaction-lite: documents are
    // indexed at t21's CHUNK granularity (the modern RAG shape — a long
    // doc matches on its best passage, not its diluted whole-doc
    // vector), and a query ranks DOCS by the max cosine over their
    // chunks. The chunk index embeds EXACTLY t21's chunks (shared
    // builder, so listing and index can never drift) with mm05's
    // hashing-trick encoder, bucketed by the v-family's hyperplane LSH;
    // probes are whole-doc embeddings of the standard probe set. Scale
    // shape: the chunk index is a WRITTEN stage (the vector store);
    // probes broadcast; the probe join is bucket-pruned; the per-(query,
    // doc) best-chunk choice is ONE struct-max aggregate (map-side
    // partial), then a bounded per-probe top-k. No cartesian anywhere.
    Q("v15_chunk_retrieval", {
      val dim = EmbDim
      val k = K
      val np = NumProbes
      s"""WITH ${graft.queries.TextQueries.ragChunksSqlBody},
         |cb AS (
         |  SELECT doc_id, chunk_id,
         |         list_transform(ctoks, t -> CAST('0x' || substring(md5(t), 1, 7) AS BIGINT) % $dim) AS bks
         |  FROM chunks
         |),
         |cv AS (
         |  SELECT doc_id, chunk_id,
         |         list_transform(generate_series(0, ${dim - 1}),
         |                        j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)) AS q
         |  FROM cb
         |),
         |cn AS (
         |  SELECT doc_id, chunk_id, q,
         |         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2,
         |         ${lshBucketSql("q")} AS bucket
         |  FROM cv
         |),
         |idx AS (SELECT * FROM cn WHERE n2 > 0),
         |pb AS (
         |  SELECT doc_id,
         |         list_transform(string_split_regex(trim(lower(text)), '\\s+'),
         |                        t -> CAST('0x' || substring(md5(t), 1, 7) AS BIGINT) % $dim) AS bks
         |  FROM documents WHERE doc_id < $np
         |),
         |pv AS (
         |  SELECT doc_id,
         |         list_transform(generate_series(0, ${dim - 1}),
         |                        j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)) AS q
         |  FROM pb
         |),
         |pn AS (
         |  SELECT doc_id, q,
         |         CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS n2,
         |         ${lshBucketSql("q")} AS bucket
         |  FROM pv
         |),
         |scored AS (
         |  SELECT p.doc_id AS probe_id, c.doc_id, c.chunk_id,
         |         CAST(CAST(list_sum(list_transform(list_zip(p.q, c.q), s -> s[1] * s[2])) AS BIGINT) AS DOUBLE)
         |           / sqrt(CAST(p.n2 * c.n2 AS DOUBLE)) AS cosine
         |  FROM pn p JOIN idx c ON c.bucket = p.bucket AND c.doc_id <> p.doc_id
         |  WHERE p.n2 > 0
         |),
         |best AS (
         |  SELECT probe_id, doc_id, chunk_id, cosine,
         |         ROW_NUMBER() OVER (PARTITION BY probe_id, doc_id
         |                            ORDER BY cosine DESC, chunk_id) AS cr
         |  FROM scored
         |),
         |b1 AS (SELECT probe_id, doc_id, chunk_id AS best_chunk, cosine FROM best WHERE cr = 1),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |                               ORDER BY cosine DESC, doc_id) AS rnk
         |  FROM b1
         |)
         |SELECT probe_id, doc_id, best_chunk, rnk, cosine FROM ranked
         |WHERE rnk <= $k ORDER BY probe_id, rnk""".stripMargin
    }) { (s, d) =>
      GraftNative.ensure(s)
      val dim = EmbDim
      val idx = Stage.sharedTable(s, "v15_chunk_idx", d) {
        graft.queries.TextQueries.ragChunkToks(s, d)
          .select(col("doc_id"), col("chunk_id"),
            GraftNative.dimCounts(col("ctoks"), dim).as("q"))
          .withColumn("n2", GraftNative.longDot(col("q"), col("q")))
          .where(col("n2") > 0)
          .withColumn("bucket", lshBucket(col("q")))
      }
      val probes = Stage.table(
        Tables.documents(s, d)
          .where(col("doc_id") < NumProbes)
          .select(col("doc_id").as("probe_id"),
            GraftNative.dimCounts(split(lower(trim(col("text"))), "\\s+"), dim).as("p_q"))
          .withColumn("p_n2", GraftNative.longDot(col("p_q"), col("p_q")))
          .where(col("p_n2") > 0)
          .withColumn("p_bucket", lshBucket(col("p_q"))),
        "v15_probes")
      val scored = idx.join(broadcast(probes),
          col("bucket") === col("p_bucket") && col("doc_id") =!= col("probe_id"))
        .withColumn("cosine", GraftNative.longDot(col("q"), col("p_q")).cast("double") /
          sqrt((col("n2") * col("p_n2")).cast("double")))
      val best = scored.groupBy("probe_id", "doc_id")
        .agg(max(struct(col("cosine"), (-col("chunk_id")).as("nc"))).as("b"))
        .select(col("probe_id"), col("doc_id"),
          (-col("b.nc")).as("best_chunk"), col("b.cosine").as("cosine"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("cosine").desc, col("doc_id"))
      best.withColumn("rnk", row_number().over(wr))
        .where(col("rnk") <= K)
        .select(col("probe_id"), col("doc_id"), col("best_chunk"),
          col("rnk").cast("long").as("rnk"), col("cosine"))
        .orderBy("probe_id", "rnk")
    }
  )
}
