package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{GraphFixture, PropertyGraph}

/** One benchmark run: seeded inputs, set-up, an untimed warm-up, then a
  * closed loop with one client for `seconds`, every result checked against
  * [[Ref]]. Prints one `PERFBENCH_RESULT {json}` line (see `Run.report`).
  *
  * Usage: Main --workload <point_lookup|graph_analytics> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>] */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, traceOut: Option[String])

  val Workloads = Seq("point_lookup", "graph_analytics")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv.get("trace-out"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    println("PERFBENCH_RESULT " + new Run(o).run())
    System.out.flush()
    sys.exit(0)
  }
}

final class Run(o: Main.Opts) {
  import Run._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val tables = new Tables(ScaleFactor, o.seed)
  private val exp = new Expected(tables)
  private val n = exp.ids.length
  private val dataDir = s"${o.work}/data"
  private val trace = new Tracer(o.trace)
  private val rnd = new SplittableRandom(o.seed * 0x9E3779B97F4A7C15L + 1)
  private val started = System.nanoTime()

  /** Progress on stderr: seconds since start and the phase just finished. */
  private def phase(name: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs $name")

  // correctness bookkeeping
  private var attempted = 0L
  private var failed = 0L
  private def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Throwable => System.err.println(s"check $what threw: $e"); false
    }
    if (!good) { failed += 1; System.err.println(s"check failed: $what") }
  }

  private var spark: SparkSession = _
  private var counters: Counters = _

  private def session(): SparkSession =
    graft.GraftSession.builder(s"local[$cores]", cores)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  // ---- operations and their timing ----

  private var opId = 0
  private var timedFrom = Int.MaxValue
  private def measured(op: Int): Boolean = op >= timedFrom
  private var timedOps = 0

  /** Seconds per operation kind, over the measured window only. */
  private val kindSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def record(kind: String, seconds: Double): Unit =
    if (measured(opId)) kindSeconds.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  /** Time `body` as the workload step `kind`. */
  private def step[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    record(kind, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Run `body` as one client operation: counters and spans are charged to
    * a fresh operation id. Returns the result or the exception. */
  private def operation[T](body: => T): Either[Throwable, T] = {
    opId += 1
    trace.op = opId
    if (counters != null) counters.begin(opId)
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    if (counters != null) counters.end(opId)
    if (measured(opId)) timedOps += 1
    r
  }

  /** Closed loop, one client: `warmup` untimed operations, then operations
    * back to back until `seconds` have passed. */
  private def loop(warmup: Int)(op: Int => Unit): Unit = {
    for (i <- 0 until warmup) op(i)
    phase("warm-up done")
    timedFrom = opId + 1
    val end = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = warmup
    while (System.nanoTime() < end) { op(i); i += 1 }
  }

  def run(): String = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o.work))
    phase(s"graph: $n vertices, ${exp.baseEdges.size} edges")
    tables.write(dataDir)
    phase("inputs written")
    // set-up runs SetupReps times, each from a fresh session
    val setupTimes = (1 to SetupReps).map { r =>
      stopSession()
      trace.op = -r
      val t0 = System.nanoTime()
      spark = trace("session")(session())
      val g = trace("fixture.build") {
        val g = GraphFixture(spark, dataDir)
        g.vertices.count(); g.edges.count()
        g
      }
      setupWorkload(g)
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("WARN")
    if (o.trace) counters = new Counters(spark.sparkContext)
    phase("set-up done")
    val g = GraphFixture(spark, dataDir)
    checkFixture(g)
    phase("fixture checked")

    o.workload match {
      case "point_lookup" => pointLookup(g)
      case "graph_analytics" => graphAnalytics(g)
    }
    phase("workload done")
    report(setupTimes)
  }

  // ---- set-up: the fixture plus the stored state the workload reads ----

  private var baseLabels: DataFrame = _

  private def setupWorkload(g: PropertyGraph): Unit = o.workload match {
    case "point_lookup" => trace("pg.index_build")(g.undByA.count())
    case "graph_analytics" => baseLabels = trace("cc.base")(g.storedBaseCC(lit(false)))
  }

  /** The built graph must be exactly the one derived from the tables. */
  private def checkFixture(g: PropertyGraph): Unit = check("fixture") {
    val es = g.edges.select("src", "dst", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val be = exp.baseEdges
    val want = (0 until be.size)
      .map(i => (exp.ids(be.src(i)), exp.ids(be.dst(i)), Expected.EdgeLabels(be.lbl(i))))
      .sorted
    val vs = g.vertices.select("id", "label", "val").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .sortBy(_._1)
    val vOk = vs.length == n && vs.indices.forall { i =>
      val (id, l, v) = vs(i)
      id == exp.ids(i) && l == exp.labelOf(i) &&
        java.lang.Double.compare(v, exp.vval(i)) == 0
    }
    vOk && es.sameElements(want)
  }

  // ---- point_lookup ----

  /** Ego seconds on the driver-side point path (false) and on the
    * distributed fallback a frontier-cap overflow takes (true). */
  private val egoSeconds = Map(false -> mutable.ArrayBuffer.empty[Double],
    true -> mutable.ArrayBuffer.empty[Double])

  private def ego(g: PropertyGraph, v: Long): Array[Row] = trace("pg.ego") {
    val f0 = PropertyGraph.traversalFallbacks.get()
    val t0 = System.nanoTime()
    val rows = g.ego(v, 2).collect()
    if (measured(opId))
      egoSeconds(PropertyGraph.traversalFallbacks.get() > f0) += (System.nanoTime() - t0) / 1e9
    rows
  }

  private def traverse(g: PropertyGraph, q: String): Array[Row] = {
    val df = trace("trav.build")(g.traverse(q))
    trace("trav.exec")(df.collect())
  }

  private def egoFingerprint(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong,
      rows.map(r => Ref.edgeHash(r.getLong(0), r.getLong(1), r.getString(2))).sum)

  /** One request kind: how its start vertex is drawn, the request, and the
    * reference check of its answer. */
  private final case class Request(kind: String, draw: () => Int,
      send: Long => Array[Row], ok: (Int, Array[Row]) => Boolean)

  private def pointLookup(g: PropertyGraph): Unit = {
    import Expected._
    val ref = new Ref(n, exp.baseEdges)
    val ids = exp.ids
    val cust = () => exp.customer + rnd.nextInt(tables.nCust)
    val egoOk = (v: Int, rows: Array[Row]) => egoFingerprint(rows) == ref.egoPrint(v, 2, ids)
    val requests = Seq(
      Request("ego_customer", cust, ego(g, _), egoOk),
      // suppliers are the hubs whose 2-hop frontier overflows the cap
      Request("ego_supplier", () => exp.supplier + rnd.nextInt(tables.nSupp), ego(g, _), egoOk),
      Request("supplied_by", () => exp.order + rnd.nextInt(tables.nOrder),
        v => traverse(g, s"V(id=$v).out('contains').out('supplied_by').dedup().ids()"),
        (v, rows) => rows.map(_.getLong(0)).toSet ==
          ref.out(v, Contains).flatMap(ref.out(_, SuppliedBy)).map(ids(_)).toSet),
      Request("orders", cust, v => traverse(g, s"V(id=$v).in('by').values('val')"),
        (v, rows) => rows.map(_.getDouble(0)).sorted.sameElements(
          ref.in(v, By).map(exp.vval(_)).sorted)),
      Request("nation_peers", cust,
        v => traverse(g, s"V(id=$v).out('in_nation').in('in_nation').count()"),
        (v, rows) => rows.head.getLong(0) ==
          ref.out(v, InNation).map(ref.in(_, InNation).size.toLong).sum),
      Request("colocated_2hop", cust,
        v => traverse(g, s"V(id=$v).both('colocated').both('colocated').simplePath().count()"),
        (v, rows) => rows.head.getLong(0) ==
          (for (s <- ref.both(v, Colocated); x <- ref.both(s, Colocated)
            if s != v && x != v && x != s) yield 1L).sum))
    // one request of each kind per round; start vertices uniform by label
    loop(warmup = requests.size) { i =>
      val q = requests(i % requests.size)
      val v = q.draw()
      val r = operation(step(q.kind)(q.send(ids(v))))
      check(q.kind)(q.ok(v, r.toTry.get))
    }
  }

  // ---- graph_analytics ----

  /** BatchEdges seeded new customer→supplier edges labelled 'trades'. */
  private def batch(): Array[(Int, Int)] = Array.fill(BatchEdges)(
    (exp.customer + rnd.nextInt(tables.nCust), exp.supplier + rnd.nextInt(tables.nSupp)))

  private def batchFrame(g: PropertyGraph, b: Array[(Int, Int)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(b.toIndexedSeq.map { case (c, s) =>
      Row(exp.ids(c), exp.ids(s), "trades", null, "public")
    }: _*), g.edges.schema)

  private var lastVersion: PropertyGraph = _

  private def graphAnalytics(g: PropertyGraph): Unit = {
    // one new version per operation, so no memoized labeling is reused;
    // the first suite in a JVM runs ~20 % slower, so one untimed suite
    loop(warmup = 1) { k =>
      val b = batch()
      val custIds = b.map(p => exp.ids(p._1)).distinct
      val newVal = 1000.0 + k
      val bdf = batchFrame(g, b)
      val res = mutable.Map.empty[String, Array[Row]]
      def algo(name: String, span: String)(df: => DataFrame): Unit =
        res(name) = step(name)(trace(span)(df.collect()))
      val r = operation {
        val v = step("version") {
          val v = trace("pg.write") {
            g.addEdges(bdf).setVal(col("id").isin(custIds.toIndexedSeq: _*), lit(newVal))
          }
          trace("pg.index_build") { v.undirectedEdges.count(); v.undByA.count() }
          v
        }
        lastVersion = v
        algo("pagerank", "algo.pagerank")(v.pageRank(10))
        algo("cc", "algo.cc")(v.connectedComponents)
        algo("triangles", "algo.triangles")(v.triangleCounts)
        algo("lp", "algo.lp")(v.labelPropagation(3))
        algo("kcore", "algo.kcore")(v.kCore(KCoreK, KCoreRounds))
        algo("fold", "cc.fold")(v.foldBatchCC(baseLabels, bdf))
        trace("pg.uncache")(v.uncache())
        res.toMap
      }
      val edges = exp.baseEdges.copy()
      b.foreach { case (c, s) => edges.add(c, s, Expected.Trades) }
      checkAnalytics(r, new Ref(n, edges))
      check("set_val") {
        val got = lastVersion.vertices.filter(col("id").isin(custIds.toIndexedSeq: _*))
          .select("val").collect()
        got.length == custIds.length && got.forall(_.getDouble(0) == newVal)
      }
    }
  }

  private def labelsMatch(rows: Array[Row], want: Array[Long]): Boolean =
    rows.length == n && rows.forall(r => want(exp.ix(r.getLong(0))) == r.getLong(1))

  private def checkAnalytics(r: Either[Throwable, Map[String, Array[Row]]], ref: Ref): Unit = {
    val ids = exp.ids
    def rows(name: String): Array[Row] = r.toTry.get(name)
    lazy val comp = ref.components(ids)
    check("pagerank") {
      val (want, bound) = ref.pageRank(10)
      val got = rows("pagerank")
      got.length == n && got.forall { x =>
        val v = exp.ix(x.getLong(0))
        math.abs(x.getDouble(1) - want(v)) <= bound(v)
      }
    }
    check("cc")(labelsMatch(rows("cc"), comp))
    check("fold_cc")(labelsMatch(rows("fold"), comp))
    check("triangles") {
      val want = ref.triangles().map { case (v, c) => ids(v) -> c }
      rows("triangles").map(x => x.getLong(0) -> x.getLong(1)).toMap == want &&
        rows("triangles").length == want.size
    }
    // label propagation has no unique answer: one label per vertex, and
    // every community inside one connected component
    check("lp") {
      val got = rows("lp").map(x => x.getLong(0) -> x.getLong(1)).toMap
      got.size == n && got.keySet == ids.toSet &&
        got.groupBy(_._2).values.forall(_.keys.map(id => comp(exp.ix(id))).toSet.size == 1)
    }
    check("kcore") {
      val want = ref.kCore(KCoreK, KCoreRounds).map { case (v, d) => ids(v) -> d }
      val got = rows("kcore").map(x => x.getLong(0) -> x.getLong(1))
      got.length == want.size && got.toMap == want
    }
  }

  // ---- results ----

  /** Persisted data still held once unreferenced caches are collected:
    * (megabytes in block-manager memory, persisted RDD count). Two
    * collections, each followed by a pause for Spark's context cleaner to
    * drop the blocks of unreachable RDDs. */
  private def heldCache(): (Double, Int) = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    val info = spark.sparkContext.getRDDStorageInfo
    (info.map(_.memSize).sum / 1048576.0, info.length)
  }

  /** The run's result line: end-to-end metrics when untraced, per-layer
    * metrics when traced. */
  private def report(setupTimes: Seq[Double]): String = {
    // typical operation latency: each kind's median, geometric mean over kinds
    val kindMedians = kindSeconds.values.map(s => median(s.toSeq)).filter(_ > 0)
    val opMs = 1000 * math.exp(kindMedians.map(math.log).sum / math.max(kindMedians.size, 1))
    val (cacheMb, persisted) = heldCache()
    val metrics =
      if (!o.trace) Seq(
        ("setup_s", median(setupTimes), "s"),
        ("op_ms", opMs, "ms"),
        ("cache_mb", cacheMb, "MB"))
      else {
        val self = trace.selfTimes(_ => true)
        val selfSetup = trace.selfTimes(_ < 0)
        def med(name: String, m: Map[String, Seq[Double]] = self) =
          median(m.getOrElse(name, Seq.empty))
        val c = counters.totals(measured)
        val ops = math.max(timedOps, 1).toDouble
        val indexBuilds = trace.selfTimes(measured).get("pg.index_build").fold(0)(_.size)
        val egoCalls = egoSeconds.values.map(_.size).sum
        val planNodes = Option(lastVersion).getOrElse(GraphFixture(spark, dataDir))
          .edges.queryExecution.logical.collect { case p => p }.size
        o.traceOut.foreach(p => trace.write(java.nio.file.Paths.get(p)))
        Seq(
          ("fixture.build_s", med("fixture.build", selfSetup), "s"),
          ("pg.index_build_s", med("pg.index_build"), "s"),
          ("pg.index_builds", indexBuilds / ops, "count"),
          ("pg.ego_s", median(egoSeconds(false).toSeq), "s"),
          ("pg.ego_fallback_s", median(egoSeconds(true).toSeq), "s"),
          ("pg.fallback_share", if (egoCalls > 0) egoSeconds(true).size.toDouble / egoCalls else 0.0,
            "ratio"),
          ("trav.build_s", med("trav.build"), "s"),
          ("trav.exec_s", med("trav.exec"), "s"),
          ("pg.write_s", med("pg.write"), "s"),
          ("pg.edges_plan_nodes", planNodes.toDouble, "count"),
          ("cc.fold_s", med("cc.fold"), "s"),
          ("cc.base_s", med("cc.base", selfSetup), "s"),
          ("algo.pagerank_s", med("algo.pagerank"), "s"),
          ("algo.cc_s", med("algo.cc"), "s"),
          ("algo.triangles_s", med("algo.triangles"), "s"),
          ("algo.lp_s", med("algo.lp"), "s"),
          ("algo.kcore_s", med("algo.kcore"), "s"),
          ("spark.jobs_per_op", c.jobs / ops, "count"),
          ("spark.stages_per_op", c.stages / ops, "count"),
          ("spark.tasks_per_op", c.tasks / ops, "count"),
          ("spark.shuffle_write_mb", c.shuffleBytes / 1048576.0 / ops, "MB"),
          ("spark.gc_s", c.gcMs / 1000.0 / ops, "s"),
          ("spark.persisted_rdds", persisted.toDouble, "count"),
          ("traced.op_ms", opMs, "ms"),
          ("op.samples", kindSeconds.values.map(_.size).sum.toDouble, "count"))
      }
    stopSession()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}

object Run {
  /** TPC-H scale of the generated tables: ~14k vertices, ~70k edges. */
  val ScaleFactor = 0.005
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3
  /** New edges per analytics version. */
  val BatchEdges = 100
  val KCoreK = 5
  val KCoreRounds = 3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Full-precision JSON number (never NaN/Infinity). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
