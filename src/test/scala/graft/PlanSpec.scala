package graft

import graft.pipeline.SynthGeo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the declarative paths must keep Catalyst's
  * optimizations — predicate pushdown into the parquet scan, broadcast
  * joins for dimensions, whole-stage codegen spans.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  val dir = "/root/testdata/sf0.001"

  test("filters and column pruning reach the parquet scan") {
    val df = SynthGeo.table(spark, dir, "lineitem")
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan)
  }

  test("dimension join broadcasts the small side") {
    val o = SynthGeo.table(spark, dir, "orders")
    val n = SynthGeo.table(spark, dir, "nation")
    val joined = o.join(broadcast(n), o("o_custkey") % 25 === n("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("point derivation stays in one codegen stage over the scan") {
    val pts = SynthGeo.customerPoints(spark, dir)
      .withColumn("cell", graft.core.Tiling.cellIdCol(col("x"), col("y"), 4.0))
    val plan = pts.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // single WSCG stage incl. project
    assert(!plan.contains("Exchange"), plan) // no shuffle for a projection
  }

  test("IVF centroid assignment is a hash aggregate, not a window sort") {
    import spark.implicits._
    val emb = SynthGeo.table(spark, dir, "embeddings")
    val c = graft.pipeline.Similarity.normalized(emb)
    // literal centroids → the plan under test is assignNearest's alone
    val dim = 64
    val cents = Seq(0, 1, 2, 3)
      .map(i => (i, Seq.tabulate(dim)(d => (d % (i + 2)).toDouble)))
      .toDF("cid", "cunit")
    // LOCAL centroid frame (the standard case: every centroid build
    // below the driver bound): assignment is a PURE SCAN — literal
    // codebooks, no exchange, no join, no aggregate; the corpus is
    // never shuffled to be assigned
    val scanPlan = graft.pipeline.Similarity.assignNearest(c, cents)
      .queryExecution.executedPlan.toString
    assert(!scanPlan.contains("Window"), scanPlan)
    assert(!scanPlan.contains("Exchange"), scanPlan)
    assert(!scanPlan.contains("Join"), scanPlan)
    // DISTRIBUTED centroid frame (beyond the driver bound — built from
    // a Range leaf, so it is NOT a local relation): the corpus-side
    // per-id argmax must be an aggregate with MAP-SIDE partials
    // (shuffle volume / nCentroids), not the old Window.partitionBy(id)
    // which shuffled and sorted every corpus×centroid row
    val centsDist = spark.range(4).select(col("id").cast("int").as("cid"),
      transform(sequence(lit(1), lit(dim)),
        d => (d % (col("id") + 2)).cast("double")).as("cunit"))
    val plan = graft.pipeline.Similarity.assignNearest(c, centsDist)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_max_by"), plan)
  }

  test("local-codebook assignment is one nearest_cids node whatever k is; " +
      "beyond the driver bound it is the broadcast partial aggregate") {
    import spark.implicits._
    val c = graft.pipeline.Similarity.normalized(
      SynthGeo.table(spark, dir, "embeddings"))
    val dim = 64
    def plan(cents: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Similarity.assignNearest(c, cents)
        .queryExecution.executedPlan
    val plans = Seq(16, 4096).map { k =>
      val p = plan((0 until k).map(i =>
        (i, Seq.tabulate(dim)(d => ((i * 7 + d) % 13).toDouble)))
        .toDF("cid", "cunit"))
      val nodes = p.collect { case n => n.expressions.flatMap(_.collect {
        case e: graft.catalyst.NearestCidsExpr => e }) }.flatten
      assert(nodes.size == 1, p.toString)
      assert("nearest_cids\\(".r.findAllIn(p.toString).size == 1, p.toString)
      p.toString
    }
    // the codebook is held once, not printed: the plan does not grow
    // with k·dim
    assert(math.abs(plans(0).length - plans(1).length) < 100,
      plans.mkString("\n"))
    // a driver-local codebook past centroidsFitDriver (8M doubles) takes
    // the broadcast max_by form
    val big = Seq.tabulate(2)(i => (i, Array.fill((4 << 20) + 1)(i.toDouble)))
      .toDF("cid", "cunit")
    val bp = plan(big).toString
    assert(bp.contains("partial_max_by") && !bp.contains("nearest_cids"), bp)
  }

  test("stratified sample is a partial aggregate, not a window sort") {
    val docs = SynthGeo.table(spark, dir, "documents")
    val df = graft.pipeline.Curation.stratifiedSample(
      docs, Seq("lang", "source"), 5, "doc_id")
    val plan = df.queryExecution.executedPlan.toString
    // per-stratum selection must run through the typed top-k Aggregator
    // (map-side partials) — never a row_number window over the corpus
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("ObjectHashAggregate") ||
      plan.contains("SortAggregate"), plan)
    // partial + final pair (map-side combine before the exchange)
    assert(plan.contains("partial"), plan)
  }

  test("contiguity vertex explode keeps codegen'd encoders") {
    import spark.implicits._
    val polys = SynthGeo.partPolygons(spark, dir)
    // driving the query is the real check: the top-level VKey/EKey case
    // classes must not trip Janino (which would WARN + fall back to
    // interpreted encoders); assert results still flow and the plan is
    // the expected equi-join shape
    // plan shape must be read from the PRE-checkpoint frame: adjacency()
    // returns a materialized frame whose plan is just a scan
    val (lazyAdj, cachedSrc) = graft.weights.ContiguityWeights.adjacencyLazy(
      polys, graft.weights.ContiguityWeights.Conf(queen = true))
    val plan = lazyAdj.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
    assert(lazyAdj.limit(5).count() > 0)
    cachedSrc.unpersist(blocking = false)
  }

  test("queen and rook adjacency self-joins never broadcast their key table") {
    // a broadcast hash relation on the compound (double) key takes a
    // whole memory page, held until the ContextCleaner drops it
    val polys = SynthGeo.partPolygons(spark, dir)
    for (queen <- Seq(true, false)) {
      val lazyAdj = graft.weights.ContiguityWeights.adjacencyLazy(
        polys, graft.weights.ContiguityWeights.Conf(queen = queen))._1
      assert(lazyAdj.collect().nonEmpty)
      // the adaptive plan after the run: a join re-planned at runtime shows
      val plan = lazyAdj.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), s"queen=$queen: $plan")
    }
  }

  test("hashed linear scorer broadcasts the model, never the corpus") {
    val docs = SynthGeo.table(spark, dir, "documents")
    val w = spark.range(1024).select(col("id").as("bucket"),
      (col("id") % 7).cast("double").as("weight"))
    val scored = graft.pipeline.Curation.hashedLinearScore(docs, w)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the model side feeds the broadcast exchange; the corpus must not
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("unigram log-prob caches only the grouped counts, never the token stream") {
    // regression guard for the r5 scale hazard: the exploded token
    // stream (~10^12 rows at corpus scale) must not be cache-pinned —
    // the only cached frame in the plan is the (token, n) counts frame
    val docs = SynthGeo.table(spark, dir, "documents")
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val out = graft.pipeline.Curation.unigramLogProb(docs, vocabK = 64)
    out.count()
    // the operator releases its internal cache before returning — the
    // CacheManager must be empty again (same leak discipline as the
    // kNN/dedup builders, asserted in PipelineSpec)
    assert(cm.isEmpty, "unigramLogProb leaked a cached frame")
    // and the plan that WAS cached during execution is count-shaped:
    // re-run the internals by hand to inspect the cached schema
    import org.apache.spark.sql.functions.{coalesce => cl, _}
    val toks = docs.select(col("doc_id").cast("long").as("id"),
        explode(split(cl(col("text"), lit("")), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("n")).cache()
    try {
      assert(counts.columns.toSeq == Seq("token", "n"))
      // a cached TOKEN-STREAM frame would carry (id, token)
      assert(!counts.columns.contains("id"))
    } finally counts.unpersist(true)
  }

  test("semantic dedup: centroids broadcast, never a nested-loop pair join") {
    import spark.implicits._
    val emb = spark.range(500).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        d => pmod(xxhash64(col("id") * 31 + d), lit(1000))
          .cast("float") / 500.0f - 1.0f).as("embedding"))
    val plan = graft.pipeline.Dedup.semanticNearDup(emb,
      threshold = 0.9, nClusters = 8).queryExecution.executedPlan.toString
    // the verified-pair frame is checkpoint-backed (scoped release), so
    // assert on the pair-construction plan instead: assignment join
    val assignedPlan = graft.pipeline.Dedup.semanticNearDup(emb,
      threshold = 0.9, nClusters = 8)
    assert(assignedPlan.columns.toSeq == Seq("id_a", "id_b", "cosine"))
    // no cartesian/nested-loop anywhere in the construction of a flat
    // run end-to-end: build the un-released internals by hand
    val renamed = emb.select(col("vec_id"), col("embedding"))
    val cents = graft.pipeline.Similarity.scatteredCentroids(renamed, 8)
    val assigned = graft.pipeline.Similarity.assignNearest(
      graft.pipeline.Similarity.normalized(renamed), cents)
    val ap = assigned.queryExecution.executedPlan.toString
    // with driver-local centroids the assignment is a pure scan (no
    // join at all); a distributed centroid frame would ride a
    // broadcast exchange — either way, never a shuffle of the corpus
    assert(ap.contains("BroadcastExchange") || !ap.contains("Join"), ap)
    assert(!ap.contains("Window"), ap)
    val pairs = assigned.as("a").join(assigned.as("b"),
      col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
    val pp = pairs.queryExecution.executedPlan.toString
    // the pair join itself must be the cid-keyed sort-merge join; the
    // only nested-loop join anywhere in the lineage is the INTENDED
    // n × k centroid broadcast (IdentityBroadcastMode, tiny side)
    assert(!pp.contains("CartesianProduct"), pp)
    // any cid-KEYED equi-join qualifies: sort-merge / shuffled-hash at
    // scale, or broadcast-hash when the planner can prove one side tiny
    // (the r8 local-relation centroids give it honest size estimates
    // here) — the guard is against an ALL-PAIRS join, not a strategy
    assert(pp.contains("SortMergeJoin [cid") ||
      pp.contains("ShuffledHashJoin [cid") ||
      pp.contains("BroadcastHashJoin [cid"),
      "pairwise self-join must be cid-keyed, not all-pairs: " + pp)
    assert(plan.nonEmpty)
  }

  test("semantic dedup split path: cell-keyed joins only, no cartesian") {
    import spark.implicits._
    // diffuse corpus forced into 2 cells so the split actually fires
    // (occupancy 250 > 8 x targetCluster 16), then assert the whole
    // splitOversized pair frame never grows a nested-loop join: the
    // seed draw is a per-cell window over oversized members, the
    // re-assignment a cid-keyed equi-join, and the pair join keys on
    // the new hashed sub-cell ids
    val emb = spark.range(500).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(16)),
        d => pmod(xxhash64(col("id") * 37 + d), lit(1000))
          .cast("float") / 500.0f - 1.0f).as("embedding"))
    // the public frame is checkpoint-backed (scoped release) — build
    // the un-released internals by hand, as the flat-path test does
    val sa = graft.pipeline.Dedup.semanticAssign(emb, 16, 2, 4096,
      "vec_id", "embedding")
    val split = graft.pipeline.Dedup.splitCells(sa.assigned, 16, 8)
    val sp = split.queryExecution.executedPlan.toString
    assert(!sp.contains("CartesianProduct"), sp)
    // the oversized-cell membership filter rides a broadcast join
    assert(sp.contains("BroadcastExchange"), sp)
    val pairs = split.as("a").join(split.as("b"),
      col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
    val pp = pairs.queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct"), pp)
    assert(pp.contains("SortMergeJoin [cid") ||
      pp.contains("ShuffledHashJoin [cid"),
      "split-path pair join must stay cid-keyed: " + pp)
    // behavior sanity: the public op still runs green under the split
    val out = graft.pipeline.Dedup.semanticNearDup(emb, threshold = 0.9,
      targetCluster = 16, nClusters = 2, splitOversized = 8)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "cosine"))
    out.count()
  }

  test("vocab sketch: object-hash aggregate, exchange carries sketches " +
      "not tokens") {
    import spark.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"a b c w$i"))
      .toDF("doc_id", "text")
    val plan = graft.pipeline.Curation
      .vocabTopKSketch(docs.repartition(4), k = 10, capacity = 32)
      .queryExecution.executedPlan.toString
    // the TypedImperativeAggregate runs under ObjectHashAggregate with a
    // map-side partial: the only exchange before the final aggregate is
    // the single-partition gather of one serialized sketch per partition
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("Exchange SinglePartition"), plan)
    // no token-keyed repartitioning anywhere (vocabTopK's exchange
    // hashes on token; the sketch path must not)
    assert(!plan.contains("hashpartitioning(token"), plan)
  }

  test("PQ encode is a pure scan (no exchange); ADC rides the query " +
      "broadcast with a partial top-k aggregate") {
    import spark.implicits._
    val emb = (0 until 300).map { i =>
      (i.toLong, (0 until 32).map(d =>
        (((i * 31 + d * 7) % 17) - 8).toFloat / 8f))
    }.toDF("vec_id", "embedding")
    val cb = graft.pipeline.Similarity.pqTrain(emb, m = 4, ksub = 8)
    val enc = graft.pipeline.Similarity.pqEncode(emb, cb)
      .queryExecution.executedPlan.toString
    // the literal-codebook encoder must be embarrassingly parallel:
    // one codegen'd projection over the scan, nothing else
    assert(!enc.contains("Exchange"), enc)
    assert(!enc.contains("Join"), enc)
    val codes = graft.pipeline.Similarity.pqEncode(emb, cb)
    val topk = graft.pipeline.Similarity.pqTopK(codes,
        emb.filter(col("vec_id") < 3), cb, k = 5)
      .queryExecution.executedPlan.toString
    // corpus side never shuffles before scoring: the only join is the
    // broadcast of (query, LUT) rows, ranking is the k-slot partial agg
    assert(topk.contains("BroadcastNestedLoopJoin"), topk)
    assert(!topk.contains("SortMergeJoin") && !topk.contains("Window"), topk)
    assert(topk.contains("ObjectHashAggregate") ||
      topk.contains("SortAggregate"), topk)
  }

  test("weights summary reduces map-side: partial aggregates, no window") {
    import spark.implicits._
    val pairs = (1L to 100L).flatMap(i => Seq((i, i % 7), (i % 7, i)))
      .toDF("gid", "nbr")
    val nodes = (1L to 100L).toDF("gid")
    val plan = graft.weights.WeightsSummary.summary(pairs, nodes)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      plan)
  }
}
