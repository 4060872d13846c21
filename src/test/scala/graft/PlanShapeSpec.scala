package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression net: the properties that make the engine fast
  * at scale, asserted on the actual physical plans at sf0.001 so a
  * future change that silently drops a pushdown or introduces an
  * unbounded cartesian fails CI, not the benchmark. */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-shape-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q30 runs native shingle kernels: no split, lambda or slice per document") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.graftexprs.{ShingleHashes, Winnow}
    val plan = SparkEntry.queries("q30_text_fingerprint")(spark, dir)
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val banned = exprs.collect {
      case e @ (_: StringSplit | _: ArrayTransform | _: ArrayAggregate | _: Slice) =>
        e.prettyName
    }
    assert(banned.isEmpty, s"per-document HOF work is back in q30:\n$plan")
    assert(exprs.exists(_.isInstanceOf[ShingleHashes]) &&
      exprs.exists(_.isInstanceOf[Winnow]), s"q30 kernels missing:\n$plan")
  }

  test("fls scans push filters and prune columns (q16)") {
    val p = plan("q16_fls_filter_prune")
    assert(p.contains("fls scan"), p)
    assert(p.contains("pushed=[GreaterThanOrEqual(l_shipdate") ||
      p.contains("pushed=[LessThan"), s"filters not pushed:\n$p")
    // 6 of 11 lineitem columns projected — pruned scan, not SELECT *
    val cols = "cols=\\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(cols.split(",").length <= 6, s"column pruning lost: $cols")
  }

  test("unfiltered MIN/MAX/COUNT answers from metadata (fls aggregate scan)") {
    import org.apache.spark.sql.functions._
    val fls = graft.queries.FlsQueries.flsTable(spark, dir, "orders")
    val p = fls.agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(p.contains("metadata-aggregate"), s"aggregate pushdown lost:\n$p")
  }

  test("fls TopN prunes row groups (q38)") {
    val p = plan("q38_fls_topk")
    assert(p.contains("topN=(o_orderkey,DESC,100)"), s"TopN pushdown lost:\n$p")
  }

  test("IVF ANN uses rank-limited windows and bounded top-k aggregation (q26)") {
    // since r15 the quantizer persists as a table artifact: the
    // SERVING plan loads ranked triples (no window at all — even
    // better than rank-limited) and keeps the bounded top-k
    // aggregation; the rank-limited window invariant moved to the
    // index BUILD plan, asserted below via the build hook
    val p = plan("q26_sim_ivf_ann")
    assert(p.contains("ObjectHashAggregate"), s"bounded top-k aggregator missing:\n$p")
    val build = graft.queries.Similarity
      .rankedBuildForTest(spark, dir, nprobe = 2, lloyd = true)
      .queryExecution.executedPlan.toString
    assert(build.contains("WindowGroupLimit"),
      s"index-build assignment window not rank-limited:\n$build")
  }

  test("partition filter reaches the fls scan (q40)") {
    val p = plan("q40_fls_partitioned")
    // the dt filter must be in the scan's pushed set (it prunes whole
    // directories in planInputPartitions — FlsPartitioningSpec asserts
    // the zero-partitions-planned property; this guards the pushdown)
    assert(p.contains("fls scan"), p)
    assert(p.contains("pushed=[") && p.contains("dt"), s"partition filter not pushed:\n$p")
  }

  test("string filters reach the fls scan (q41)") {
    val p = plan("q41_fls_string_filter")
    assert(p.contains("StringStartsWith(o_orderpriority"),
      s"prefix filter not pushed:\n$p")
    assert(p.contains("EqualTo(o_orderstatus"), s"string equality not pushed:\n$p")
  }

  test("no unbounded cartesian products anywhere in the batch query surface") {
    // BroadcastNestedLoopJoin is legitimate ONLY over a broadcast small
    // side (queries/centroids/full-table-by-design in q24); a
    // CartesianProduct node means both sides were big — never OK.
    // q92 is EXCLUDED for a stronger reason than the other streaming
    // queries: without GraftExtensions (this spec runs the stock
    // planner on purpose) a stream-stream interval join cannot even
    // start — that refusal is itself spec-locked in RangeJoinRuleSpec
    val streaming = Set("q32_streaming_hourly", "q35_stream_state",
      "q37_stream_sessionize", "q92_stream_range_join")
    SparkEntry.queries.keys.filterNot(streaming).toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has an unbounded cartesian:\n$p")
    }
  }

  test("dedup joins are equi-joins on blocking keys, not theta joins") {
    Seq("q21_dedup_ngram_jaccard", "q22_dedup_minhash_lsh", "q23_dedup_simhash")
      .foreach { name =>
        val p = plan(name)
        // every join with a big build side must be hash-based on a key
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
          p.contains("BroadcastHashJoin"), s"$name lost its equi-join:\n$p")
        assert(!p.contains("CartesianProduct"), name)
      }
  }

  test("blocked embedding all-pairs shuffles by grid cell, never broadcasts (q43)") {
    val p = plan("q43_dedup_embedding_blocked")
    // one cell-key exchange feeds the per-cell primitive block loop
    // (mapPartitions — measured 4× over the ShuffledHashJoin form,
    // whose per-pair bucket-chain hops dominated at 128×)
    assert(p.toLowerCase.contains("hashpartitioning(cell"),
      s"grid must co-locate by cell key:\n$p")
    assert(p.contains("MapPartitions"),
      s"grid pair product must run as the primitive block loop:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"q43 exists to REMOVE the broadcast ceiling — a broadcast crept back:\n$p")
    // identical results to the broadcast baseline (grid = physical change only)
    val grid = SparkEntry.queries("q43_dedup_embedding_blocked")(spark, dir).collect()
    val brute = SparkEntry.queries("q24_dedup_embedding")(spark, dir).collect()
    assert(grid.toSeq == brute.toSeq,
      "block-grid all-pairs diverged from the brute-force baseline")
  }

  test("embeddingNearDup auto-dispatch: broadcast under the ceiling, grid past it") {
    import graft.queries.Dedup
    // the test corpus is tiny: auto must pick the broadcast shape
    val auto = Dedup.embeddingNearDup(spark, dir)
    val pAuto = auto.queryExecution.executedPlan.toString
    assert(pAuto.contains("BroadcastHashJoin") || pAuto.contains("BroadcastNestedLoopJoin"),
      s"auto under the ceiling must broadcast: $pAuto")
    // a 1-byte ceiling forces the grid shape through the same entry point
    val forced = Dedup.embeddingNearDup(spark, dir, maxBroadcastBytes = 1L)
    val pForced = forced.queryExecution.executedPlan.toString
    assert(pForced.contains("MapPartitions") && !pForced.contains("BroadcastHashJoin"),
      s"auto past the ceiling must take the grid: $pForced")
    // identical results either way — dispatch is physical-only
    assert(auto.collect().toSeq == forced.collect().toSeq,
      "dispatcher modes diverged")
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDup(spark, dir, mode = "nope")
    }
  }

  test("heavy hitters: partial aggregation + TopK, never a global vocabulary sort (q56)") {
    val p = plan("q56_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be per-partition top-k + 20-row merge, not a global sort: $p")
    assert(p.contains("partial"), s"explode output must combine map-side: $p")
  }
}
