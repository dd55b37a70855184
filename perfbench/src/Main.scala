package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark harness. One process, one client thread, closed loop:
  * each op starts when the previous one has returned. Drives the engine
  * through its public entry points only (SparkEntry.queries, pipelines.*,
  * delivery.Deliver.*, ops.ConnectedComponents).
  *
  *   --workload catalog|dedup|delivery   --seed N   --seconds S
  *   --trace 0|1   --data DIR   --root DIR   --golden FILE
  *   [--record-golden FILE]
  *
  * Prints a metric table, then one JSON line: end-to-end metrics with
  * --trace 0, per-layer metrics with --trace 1. */
object Main {
  /** Traced runs: pass 1 runs untraced and is left out of every figure
    * (the first timed pass is still warming up); then blocks of four
    * passes traced as T U U T, so a drift within a block cancels out of
    * the traced − untraced comparison. */
  def tracedPass(pass: Int): Boolean = pass >= 2 && ((pass - 2) % 4 == 0 || (pass - 2) % 4 == 3)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, root: String, golden: String,
                        recordGolden: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}") }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("root"), m("golden"), m.get("record-golden"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val rootDir = new java.io.File(args.root)
    // a stale index or delivery left in the root would make a refresh
    // look fast: the root must be new or empty
    require(!rootDir.exists || Option(rootDir.list).forall(_.isEmpty),
      s"run root $rootDir already holds files; refusing to run over stale state")
    rootDir.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, rootDir)
    System.err.println(f"[perfbench] session ready ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s after JVM start")
    try run(spark, args, cores, jvmStartMs) finally spark.stop()
  }

  /** Session confs as graft.Bench pins them, plus the layout threshold
    * scaled to the fixture and a private scratch root. */
  def session(cores: Int, root: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.graft.jaccard.setRepr", "array")
      // the fixture is sf0.01: re-land the tables that sf0.1 re-lands at
      // the engine's default of 100k rows (lineitem, orders, events)
      .config("spark.graft.layout.minRows", "10000")
      .config("spark.graft.scratch.root", root.getPath)
      .config("spark.local.dir", new java.io.File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(root, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(new java.io.File(root, "checkpoints").getPath)
    s
  }

  /** Drop every block a query or Lineage.cut pinned (graft.Bench's sweep). */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Used heap right after a full collection, summed over heap pools.
    * Collected until the reading settles: each collection lets Spark's
    * ContextCleaner drop the broadcast and shuffle blocks whose handles
    * the previous one freed, and those blocks live on the heap. */
  private def liveHeapMb(): Double = {
    def used() = {
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
    }
    var prev = used(); var cur = used(); var n = 2
    while (cur < prev - 1.0 && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  private def timeLogged(l: Ledger, pass: Int, o: Op, expected: Map[String, Long], ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    val ok = l.time(pass, o.name, expected.get(o.name))(ctx.span("op")(o.run(ctx)))
    System.err.println(f"[perfbench] pass $pass ${o.name} ${(System.nanoTime() - t0) / 1e9}%.3f s${if (ok) "" else " FAILED"}")
  }

  def run(spark: SparkSession, args: Args, cores: Int, jvmStartMs: Long): Unit = {
    val ctx = new Ctx(spark, args.data, args.root, args.seed)
    val golden = Golden.read(args.golden)
    val names = Workloads.names(args.workload)

    // ---- set-up: layout re-land, seeded inputs, warm-up pass ----------
    val t0 = System.nanoTime()
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")
      .foreach(graft.Tables.servingPath(spark, args.data, _))
    val relayoutS = (System.nanoTime() - t0) / 1e9
    val relayoutMb = Option(new java.io.File(args.root).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("graft_layout_")).map(Files.du(_)._2).sum / 1e6
    lazy val inputs = new Inputs(ctx)
    val all = Workloads.all(inputs)
    val ops = names.map(all)
    val probes = Mix.probes(args.workload).map(all)
    if (ops.exists(o => Workloads.seeded(o.name))) inputs
    val expected: Map[String, Long] =
      (ops ++ probes).flatMap(o => golden.get(o.name).map(o.name -> _.rows)).toMap

    System.err.println(f"[perfbench] relayout $relayoutS%.2f s, inputs ready at " +
      f"${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s after JVM start")

    args.recordGolden.foreach { out =>
      Golden.record(out, ctx, (ops ++ probes).filterNot(o => Workloads.seeded(o.name)))
      return
    }

    // warm-up pass, which is also the once-per-invocation correctness
    // check: fingerprint every golden op's output. An op whose output
    // re-runs it is warmed by the fingerprint itself; the others run once.
    val warm = new Ledger
    val fpFailures = ops.flatMap { o =>
      ctx.op = o.name
      val t0 = System.nanoTime()
      if (!o.outputRuns) warm.time(0, o.name, expected.get(o.name))(o.run(ctx))
      val bad = for (g <- golden.get(o.name); want <- g.fingerprint; out <- o.output) yield {
        val fp = scala.util.Try(graft.delivery.Deliver.fingerprint(out(ctx)))
        if (fp.toOption.contains(want)) None
        else Some(o.name -> s"fingerprint ${fp.fold(e => s"threw $e", _.toString)} != golden $want")
      }
      sweep(spark)
      System.err.println(f"[perfbench] warm ${o.name} ${(System.nanoTime() - t0) / 1e9}%.3f s")
      bad.flatten
    }
    val missingGolden = (ops ++ probes).filterNot(o => Workloads.seeded(o.name) || golden.contains(o.name)).map(_.name)
    missingGolden.foreach(n => System.err.println(s"[perfbench] no golden entry for $n"))

    // ---- timed passes: closed loop, seeded op order per pass ----------
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ledger = new Ledger
    val cpu = mutable.Map.empty[Int, Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    val tracer = new Tracer(spark.sparkContext)
    val traced = mutable.Set.empty[Int]
    val stores = mutable.Map.empty[Int, (Int, Double)] // pass -> (cuts, peak MB)
    val exchanges = mutable.Map.empty[Int, Int]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    def runPass(pass: Int): Unit = {
      ctx.pass = pass
      val order = new scala.util.Random(args.seed * 1000003L + pass).shuffle(ops)
      val c0 = cpuNs; val p0 = System.nanoTime()
      order.foreach { o =>
        ctx.op = o.name
        timeLogged(ledger, pass, o, expected, ctx)
        if (ctx.tracer.nonEmpty) {
          val sc = spark.sparkContext
          val (n, mb) = stores.getOrElse(pass, (0, 0.0))
          val used = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
          stores(pass) = (n + sc.getPersistentRDDs.size, mb.max(used))
          exchanges(pass) = exchanges.getOrElse(pass, 0) + ctx.lastPlan.map(Plans.exchanges).getOrElse(0)
        }
        // the executed plan pins its broadcast and shuffle state: holding
        // it past the op would put the last op's data into the heap reading
        ctx.lastPlan = None
        sweep(spark)
      }
      ledger.passDone(pass, (System.nanoTime() - p0) / 1e9)
      cpu(pass) = (cpuNs - c0) / 1e9
      heap += liveHeapMb()
      System.err.println(f"[perfbench] pass $pass live heap ${heap.last}%.1f MB")
    }
    // whole passes until --seconds and the workload's minimum pass count
    // are both met; a traced run also ends on a whole T U U T block
    val minPasses = Mix.minPasses(args.workload)
    var pass = 0
    def more =
      if (args.trace) elapsed < args.seconds || pass < 5 || (pass - 1) % 4 != 0
      else elapsed < args.seconds || pass < minPasses
    while (more) {
      pass += 1
      val trace = args.trace && tracedPass(pass)
      if (trace) { spark.sparkContext.addSparkListener(tracer); ctx.tracer = Some(tracer); traced += pass }
      runPass(pass)
      if (trace) { spark.sparkContext.removeSparkListener(tracer); ctx.tracer = None }
    }
    if (args.trace) {
      spark.sparkContext.addSparkListener(tracer); ctx.tracer = Some(tracer)
      ctx.pass = -1
      probes.foreach { o => ctx.op = o.name; timeLogged(ledger, -1, o, expected, ctx); sweep(spark) }
      spark.sparkContext.removeSparkListener(tracer); ctx.tracer = None
    }
    fpFailures.foreach { case (op, why) => ledger.failOp(op, why) }
    (warm.failureLog ++ ledger.failureLog).foreach { case (p, op, why) =>
      System.err.println(s"[perfbench] FAILED pass $p $op: $why") }

    val report = new Report(args, ledger, cores)
    val correct = ledger.failed == 0 && warm.failed == 0 && missingGolden.isEmpty
    if (!args.trace) {
      report.endToEnd(setupS, ledger.okPasses.map(cpu), heap.toSeq, Stats.tailPercentile(minPasses * ops.size))
    } else {
      val kernels = Kernels.probe(spark)
      val seeded = ops.exists(o => Workloads.seeded(o.name))
      report.perLayer(tracer, traced.toSet, stores.toMap, exchanges.toMap,
        relayoutS, relayoutMb, kernels, if (seeded) Some(inputs) else None,
        Workloads.deliverySourceBytes(ctx, names, if (seeded) Some(inputs) else None))
    }
    report.emit(correct)
  }
}

object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

  /** Exchanges in the final (post-AQE) physical plan, subqueries included;
    * a reused exchange is not counted again. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}
