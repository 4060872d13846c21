package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Relational

/** One workload: its inputs, its operation cycle and the facts the
  * metrics are computed from. Every workload runs the operation kinds
  * `scan` (all columns of its fls table) and `write` (a bulk fls write),
  * so every end-to-end metric exists on every workload. */
abstract class Workload(val name: String) {
  /** Kinds whose median CPU times `op_cpu_ms` takes the geometric mean of. */
  def primary: Seq[String]
  /** Kinds whose median CPU times `mix_cpu_s` sums. */
  def mix: Seq[String]
  /** The fls table `scan` reads, and the codec probe too. */
  def table(ctx: Ctx): String
  /** A parquet copy of the table's rows as set-up wrote them. */
  def parquet(ctx: Ctx): String
  def parquetRows: Long
  /** Rows `scan` returns now. */
  def scanRows: Long
  /** Rows one `write` operation writes. */
  def writeRows: Long
  /** Writes every input of the workload, from scratch. */
  def setup(ctx: Ctx): Unit
  /** Reference answers and input checks, after set-up; untimed. */
  def prepare(ctx: Ctx): Unit
  /** The closed-loop cycle; `trace` marks the traced half of a traced
    * run. */
  def ops(ctx: Ctx, trace: Boolean): IndexedSeq[() => Unit]
  /** Checks the end state after the timed loop, where there is one. */
  def finish(ctx: Ctx): Unit = ()
  /** Ops the loop completes before it may stop: 1, or a whole pass. */
  def unit(trace: Boolean, ops: Int): Int = 1
  /** Untimed warm-up before measuring (JIT, caches): at least this
    * long, and a multiple of `warmupUnit` ops. */
  def warmupSeconds: Double = 2.0
  def warmupUnit(ops: Int): Int = 1
  /** A fixed, seeded set of operations on the freshly set-up table,
    * run traced, whose pruning counts repeat exactly for a seed. */
  def pruningProbe(ctx: Ctx): Unit
  /** Workload-specific per-layer metrics of a traced run. */
  def layers(ctx: Ctx, tr: Tracer): Map[String, Double] = Map.empty

  // ---- shared operations ---------------------------------------------------

  protected def fls(spark: SparkSession, dir: String): DataFrame = spark.read.format("fls").load(dir)

  /** The all-column scan of the fls table as an operation. */
  def scan(ctx: Ctx): Unit = {
    var n = 0L
    ctx.op("scan") {
      val d = fls(ctx.spark, table(ctx))
      n = Check.materialize(d)
      ctx.tracer.foreach(_.record(d.queryExecution))
      () => n == scanRows
    }.foreach(_ => ctx.scanCpuPerRow += ctx.cpu("scan").last * 1e9 / n)
  }

  /** The same scan of the parquet copy, for `scan.fls_over_parquet`. */
  def scanParquet(ctx: Ctx): Unit =
    ctx.op("scan_parquet") {
      val n = Check.materialize(ctx.spark.read.parquet(parquet(ctx)))
      () => n == parquetRows
    }

  /** Deletes `dir`: set-up never appends to an earlier run's files. */
  protected def wipe(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(new Configuration()).delete(p, true)
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(IngestDml, GateHotspots)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}

/** Write- and pruning-bound: a manifest table of 100k seeded lineitem
  * rows, clustered on `l_orderkey` into 8,192-row files with a Bloom
  * filter on the key, and an append-only log table of the same layout.
  * Each cycle commits a merge-on-read DELETE, a copy-on-write UPDATE
  * inside one cluster range and a MERGE INTO upsert, each followed by a
  * point lookup of a key it touched, a scan of the whole table with its
  * delete vectors, and a 10k-row `INSERT INTO` batch into the log. The
  * only workload that runs encode, the data writer and the manifest
  * commit; the lookups and DML predicates load zone-map and Bloom
  * pruning.
  *
  * Keys come from disjoint classes (deletes: order % 3 == 0, merge
  * matches: == 1, looked-up update keys: == 2; merge inserts: odd keys
  * past the slice), so the commits never interact and the client knows
  * every expected count exactly. */
object IngestDml extends Workload("ingest_dml") {
  val Rows = 100000L
  val BatchRows = 10000L
  private val orders = Rows / 4
  val primary = Seq("delete", "update", "merge")
  val mix = Seq("write", "delete", "update", "merge", "lookup", "scan")
  val Table = "perfbench_ingest"
  val Log = "perfbench_ingest_log"
  def table(ctx: Ctx): String = ctx.path("ingest/fls")
  private def logTable(ctx: Ctx): String = ctx.path("ingest/log")
  def parquet(ctx: Ctx): String = ctx.path("ingest/parquet")
  def parquetRows: Long = Rows
  def writeRows: Long = BatchRows
  private val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  private val layout = Seq("commit_mode" -> "manifest", "delete_mode" -> "merge-on-read",
    "cluster_by" -> "l_orderkey", "row_group_size" -> "8192", "row_groups_per_file" -> "1",
    "bloom_columns" -> "l_orderkey")

  // what the commits since set-up did, in commit order
  private val deleted = mutable.Set[Long]()
  private val updated = mutable.ArrayBuffer[(Long, Long)]()
  private val merged = mutable.LinkedHashMap[(Long, Int), Double]()
  private val inserted = mutable.ArrayBuffer[(Long, Int, Double)]()
  private var batches = 0
  private var opNo = 0L
  def scanRows: Long = Rows - 4L * deleted.size + inserted.size
  val commits = new Commits.Acc
  private var tracing = false

  private def slice(ctx: Ctx): DataFrame = Data.lineitem(ctx.spark, ctx.seed, Rows)
  /** Log batch `b`: its own keys, `2 * BatchRows / 4` apart. */
  private def batch(ctx: Ctx, b: Int): DataFrame =
    Data.lineitem(ctx.spark, ctx.seed * 31L + b, BatchRows, b * BatchRows / 2)

  private def create(ctx: Ctx, name: String, dir: String, rows: DataFrame): Unit = {
    ctx.spark.sql(s"DROP TABLE IF EXISTS $name")
    wipe(dir)
    rows.write.format("fls").mode("overwrite").options(layout.toMap).save(dir)
    ctx.spark.sql(s"CREATE TABLE $name USING fls OPTIONS (path '$dir', " +
      layout.map { case (k, v) => s"$k '$v'" }.mkString(", ") + ")")
  }

  /** The table, its parquet copy, and the log holding batch 0. */
  def setup(ctx: Ctx): Unit = {
    slice(ctx).write.mode("overwrite").parquet(parquet(ctx))
    create(ctx, Table, table(ctx), slice(ctx))
    create(ctx, Log, logTable(ctx), batch(ctx, 0))
    deleted.clear(); updated.clear(); merged.clear(); inserted.clear(); batches = 1
  }

  /** Rows as `(key, linenumber, quantity)` with the other columns fixed:
    * the merge source, and what a merge inserts. */
  private def mergeRows(ctx: Ctx, rows: Seq[(Long, Int, Double)]): DataFrame =
    ctx.spark.createDataFrame(rows).toDF("k", "ln", "q")
      .select(col("k").as("l_orderkey"), lit(1L).as("l_partkey"), lit(1L).as("l_suppkey"),
        col("ln").as("l_linenumber"), col("q").as("l_quantity"), lit(1000.0).as("l_extendedprice"),
        lit(0.0).as("l_discount"), lit(0.0).as("l_tax"), lit("N").as("l_returnflag"),
        lit("O").as("l_linestatus"), lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")).as("l_shipdate"))

  /** Every commit since set-up replayed on the parquet copy, as one
    * plan. Exact because the key classes keep commits from interacting,
    * and updates (`l_tax`) and merges (`l_quantity`) write different
    * columns. Updates nest in commit order, so repeated `+ 0.01` rounds
    * exactly as the engine's did. */
  private def replay(ctx: Ctx): DataFrame = {
    val base = ctx.spark.read.parquet(parquet(ctx))
      .filter(!col("l_orderkey").isin(deleted.toSeq: _*))
    val tax = updated.foldLeft(col("l_tax")) { case (t, (lo, hi)) =>
      when(col("l_orderkey").between(lo, hi), t + 0.01).otherwise(t) }
    val q = mergeRows(ctx, merged.toSeq.map { case ((k, ln), q) => (k, ln, q) })
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").as("m_q"))
    val keys = Seq("l_orderkey", "l_linenumber")
    base.join(broadcast(q), keys, "left")
      .withColumn("l_quantity", coalesce(col("m_q"), col("l_quantity")))
      .withColumn("l_tax", tax)
      .select(cols.map(col): _*)
      .unionByName(mergeRows(ctx, inserted.toSeq))
  }

  private def logged(ctx: Ctx): DataFrame = (0 until batches).map(batch(ctx, _)).reduce(_ unionByName _)

  def prepare(ctx: Ctx): Unit =
    ctx.verify("ingest_dml: fls rows equal parquet rows")(
      Check.fingerprint(ctx.spark.table(Table)) == Check.fingerprint(replay(ctx)))

  override def finish(ctx: Ctx): Unit = {
    ctx.verify(s"ingest_dml: end state after $opNo commits equals the parquet replay")(
      Check.fingerprint(ctx.spark.table(Table)) == Check.fingerprint(replay(ctx)))
    ctx.verify(s"ingest_dml: the log holds exactly its $batches batches")(
      Check.fingerprint(ctx.spark.table(Log)) == Check.fingerprint(logged(ctx)))
  }

  /** One SQL statement as an operation; in a traced run the commit's
    * file changes are counted against the `rows` it changes. */
  private def commit(ctx: Ctx, kind: String, sql: String, rows: Long): Unit = {
    val before = if (tracing) Some(Commits.state(table(ctx))) else None
    ctx.op(kind) { ctx.spark.sql(sql); () => true }
    before.foreach { b =>
      val bytesPerRow = Main.tableBytes(table(ctx)).toDouble / scanRows
      Commits.diff(b, Commits.state(table(ctx)), rows, bytesPerRow, commits)
    }
  }

  private def rnd(ctx: Ctx): Random = { opNo += 1; new Random(ctx.seed * 7919L + opNo) }
  /** `n` distinct orders with `order % 3 == cls`. */
  private def ordersOf(r: Random, cls: Int, n: Int): Seq[Long] =
    Seq.fill(n)((r.nextDouble() * (orders / 3 - 1)).toLong * 3 + cls).distinct

  /** A point lookup of `key`; `check` sees the rows it returned. */
  private def lookup(ctx: Ctx, key: Long)(check: Array[Row] => Boolean): Unit =
    ctx.op("lookup") {
      val r = fls(ctx.spark, table(ctx)).filter(col("l_orderkey") === key).collect()
      () => check(r)
    }

  private def append(ctx: Ctx): Unit = {
    batch(ctx, batches).createOrReplaceTempView("perfbench_batch")
    ctx.op("write") { ctx.spark.sql(s"INSERT INTO $Log SELECT * FROM perfbench_batch"); () => true }
    batches += 1
  }

  private def delete(ctx: Ctx): Unit = {
    val ks = ordersOf(rnd(ctx), 0, 8).map(_ * 2)
    val fresh = ks.count(k => !deleted.contains(k))
    commit(ctx, "delete", s"DELETE FROM $Table WHERE l_orderkey IN (${ks.mkString(", ")})", fresh * 4L)
    deleted ++= ks
    lookup(ctx, ks.head)(_.isEmpty)
  }

  private def update(ctx: Ctx): Unit = {
    val lo = 2 * (rnd(ctx).nextDouble() * (orders - 100)).toLong
    val hi = lo + 200
    val live = (lo to hi by 2).count(k => !deleted.contains(k))
    commit(ctx, "update", s"UPDATE $Table SET l_tax = l_tax + 0.01 WHERE l_orderkey BETWEEN $lo AND $hi",
      live * 4L)
    updated += ((lo, hi))
    // the first order of class 2 in the range: never deleted or merged
    val o = lo / 2 + Math.floorMod(2 - lo / 2, 3L)
    lookup(ctx, 2 * o)(_.length == 4)
  }

  /** Ten matched rows get a new quantity; ten rows with fresh odd keys
    * are inserted. */
  private def merge(ctx: Ctx): Unit = {
    val r = rnd(ctx)
    val matched = ordersOf(r, 1, 10).map(o => (2 * o, 1 + r.nextInt(4), 1.0 + r.nextInt(50)))
    val fresh = Seq.tabulate(10)(i => (2L * (orders + inserted.size + i) + 1, 1, 7.0))
    mergeRows(ctx, matched ++ fresh).createOrReplaceTempView("perfbench_merge_src")
    commit(ctx, "merge",
      s"""MERGE INTO $Table t USING perfbench_merge_src s
          ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
          WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity
          WHEN NOT MATCHED THEN INSERT *""", 20L)
    matched.foreach { case (k, ln, q) => merged((k, ln)) = q }
    inserted ++= fresh
    val (k, ln, q) = matched.head
    lookup(ctx, k)(rows => rows.length == 4 && rows.exists(x =>
      x.getAs[Int]("l_linenumber") == ln && x.getAs[Double]("l_quantity") == q))
  }

  /** Each commit (with its lookup) is followed by a scan and an append. */
  def ops(ctx: Ctx, trace: Boolean): IndexedSeq[() => Unit] = {
    tracing = trace
    Seq[() => Unit](() => delete(ctx), () => update(ctx), () => merge(ctx))
      .flatMap(c => Seq(c, () => scan(ctx), () => append(ctx))).toIndexedSeq
  }

  /** A traced run measures whole cycles: every kind, the scan too. */
  override def unit(trace: Boolean, ops: Int): Int = if (trace) ops else 1
  /** Two whole cycles, so every statement kind is warm when timed. */
  override def warmupUnit(ops: Int): Int = 2 * ops

  /** Sixteen point lookups of seeded present and absent keys. */
  def pruningProbe(ctx: Ctx): Unit = {
    val r = new Random(ctx.seed)
    for (i <- 0 until 16) {
      val key = 2 * (r.nextDouble() * orders).toLong + (i % 2)
      ctx.op("probe") {
        val n = fls(ctx.spark, table(ctx)).filter(col("l_orderkey") === key).collect().length
        () => n == (if (i % 2 == 0) 4 else 0)
      }
    }
  }

  override def layers(ctx: Ctx, tr: Tracer): Map[String, Double] = Map(
    "commit.files_added" -> commits.added.toDouble / commits.ops,
    "commit.files_removed" -> commits.removed.toDouble / commits.ops,
    "commit.versions" -> commits.versions.toDouble / commits.ops,
    "commit.bytes_added_per_byte_changed" -> commits.bytesAdded / commits.bytesChanged)
}

/** Plan- and expression-bound: gate queries whose materialized time is
  * far above their `count()` time, over small tables generated from the
  * seed, so planning and each query's fixed cost dominate. `q86` (range
  * frames) and `q88` (interval overlap) run the graftplans rewrites,
  * `q30` the expression-heavy text body, and `q15_fls_tpch_q1` (Q1 over
  * an fls copy of the lineitem) is the control. Queries are followed by
  * all-column scans of that copy and by rewrites of it. */
object GateHotspots extends Workload("gate_hotspots") {
  val LineitemRows = 100000L
  val Queries: Seq[String] = Seq("q30_text_fingerprint", "q86_sql_range_frame",
    "q88_auto_interval_overlap", "q15_fls_tpch_q1")
  val primary = Queries
  val mix = Queries ++ Seq("scan", "write")
  def dataDir(ctx: Ctx): String = ctx.path("hot/data")
  def table(ctx: Ctx): String = ctx.path("hot/lineitem_fls")
  def parquet(ctx: Ctx): String = s"${dataDir(ctx)}/lineitem.parquet"
  def parquetRows: Long = LineitemRows
  def scanRows: Long = LineitemRows
  def writeRows: Long = LineitemRows
  private var refs: Map[String, Long] = Map.empty

  def query(ctx: Ctx, q: String): DataFrame =
    if (q == "q15_fls_tpch_q1") Relational.q01From(fls(ctx.spark, table(ctx)))
    else graft.SparkEntry.queries(q)(ctx.spark, dataDir(ctx))

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    val dir = dataDir(ctx)
    Data.lineitem(s, ctx.seed, LineitemRows).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Data.orders(s, ctx.seed, 30000).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Data.documents(s, ctx.seed, 600).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Data.events(s, ctx.seed, 20000).write.mode("overwrite").parquet(s"$dir/events.parquet")
    writeTable(ctx)
  }

  private def writeTable(ctx: Ctx): Unit = {
    wipe(table(ctx))
    Data.lineitem(ctx.spark, ctx.seed, LineitemRows).write.format("fls").mode("overwrite").save(table(ctx))
  }

  /** The warm-up pass: every query once, cold, its hash the reference
    * for every later run of it. */
  def prepare(ctx: Ctx): Unit = {
    refs = Queries.map(q => q -> Check.hash(query(ctx, q).collect())).toMap
    ctx.verify("gate_hotspots: Q1 over fls equals Q1 over parquet")(
      refs("q15_fls_tpch_q1") == Check.hash(Relational.q01From(ctx.spark.read.parquet(parquet(ctx))).collect()))
    ctx.verify("gate_hotspots: fls rows equal parquet rows")(
      Check.fingerprint(fls(ctx.spark, table(ctx))) == Check.fingerprint(ctx.spark.read.parquet(parquet(ctx))))
  }

  /** One pass: every query once, in a fixed order (a seeded order would
    * vary what the JIT compiler sees first, and with it the run's
    * speed), each followed by a scan; four rewrites follow the first
    * scan. A rewrite right after queries and scans takes up to twice
    * the CPU time of one right after a rewrite, though it writes the
    * same rows, so the rewrites run back to back at one place in the
    * pass and their median is a steady rewrite's cost. */
  def ops(ctx: Ctx, trace: Boolean): IndexedSeq[() => Unit] = {
    val write: () => Unit = () => ctx.op("write") { writeTable(ctx); () => true }
    Queries.zipWithIndex.flatMap { case (q, i) =>
      Seq[() => Unit](() => { ctx.op(q) {
        val r = query(ctx, q).collect()
        () => Check.hash(r) == refs(q)
      }; () }, () => scan(ctx)) ++ (if (i == 0) Seq.fill(4)(write) else Nil)
    }.toIndexedSeq
  }

  /** The loop stops only after a whole pass: every query gets the same
    * number of samples. */
  override def unit(trace: Boolean, ops: Int): Int = ops
  /** After the cold reference pass in `prepare`, one untimed pass. */
  override def warmupSeconds: Double = 0.5
  override def warmupUnit(ops: Int): Int = ops

  /** Q1 over fls once, and the all-column scan. */
  def pruningProbe(ctx: Ctx): Unit = {
    ctx.op("probe") {
      val r = query(ctx, "q15_fls_tpch_q1").collect()
      () => Check.hash(r) == refs("q15_fls_tpch_q1")
    }
    scan(ctx)
  }

  /** Each query once more through the `noop` sink and through
    * `count()`, which Catalyst's column pruning can cut short. */
  override def layers(ctx: Ctx, tr: Tracer): Map[String, Double] =
    Queries.flatMap { q =>
      def secs(f: DataFrame => Unit): Double = {
        val t0 = System.nanoTime(); f(query(ctx, q)); (System.nanoTime() - t0) / 1e9
      }
      Seq(s"query.noop_s.$q" -> secs(_.write.format("noop").mode("overwrite").save()),
        s"query.count_s.$q" -> secs(_.count()))
    }.toMap
}
