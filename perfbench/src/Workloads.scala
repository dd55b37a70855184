package perfbench

import graft.SparkEntry
import graft.delivery.Deliver
import graft.pipelines.{CorpusPrep, DigestIndex, PairTable, PqIndex, SignatureIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A check inside an op found a wrong result: counts as a failed op. */
final class CheckFailed(msg: String) extends Exception(msg)

/** Run state shared by the ops of one invocation. `span` is a no-op
  * unless the tracer is attached (traced passes only). */
final class Ctx(val spark: SparkSession, val data: String, val root: String, val seed: Long) {
  var tracer: Option[Tracer] = None
  var pass = 0
  var op = ""
  /** Executed plan of the last query op, for the exchange census. */
  var lastPlan: Option[org.apache.spark.sql.execution.SparkPlan] = None

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(pass, op, name)(body)
    case None => body
  }
  def path(rel: String): String = new java.io.File(root, rel).getPath
  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
}

/** One timed operation: `run` returns the row count the ledger checks;
  * `output` (when the op's result is a fixed function of the base
  * tables) is fingerprinted once per invocation against the golden file. */
final case class Op(name: String, run: Ctx => Long,
                    output: Option[Ctx => DataFrame] = None, outputRuns: Boolean = false)

object Files {
  /** (files, bytes) of the data files under `f`, skipping `_`/`.` names. */
  def du(f: java.io.File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
      .map(du).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length) else (0L, 0L)
}

/** Seeded inputs for the delivery workload, written under the run root at
  * set-up. Sizes are fixed; the seed picks which rows and values. */
final class Inputs(ctx: Ctx) {
  import ctx.spark.implicits._
  private val rnd = new scala.util.Random(ctx.seed)
  val batchRows = 500
  val changedNations: Seq[Int] = rnd.shuffle((0 until 25).toList).take(7)
  val (modified, removed) = (changedNations.take(5).sorted, changedNations.drop(5).sorted)

  /** New-doc batch: half are copies (text and lang) of seeded corpus
    * docs, half are built from words the corpus vocabulary never uses.
    * doc_id → expected keep verdict (copy ⇒ 0, fresh ⇒ 1). */
  val (docBatch: String, keepByDoc: Map[Long, Long]) = {
    val corpus = graft.Tables.documents(ctx.spark, ctx.data)
      .select("doc_id", "text", "lang").orderBy("doc_id").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val langs = Seq("en", "de", "zh", "fr", "es")
    val rows = (0 until batchRows).map { i =>
      val id = 1000000L + i
      if (i % 2 == 0) { val (t, l) = corpus(rnd.nextInt(corpus.length)); (id, t, l, 0L) }
      else {
        val t = Seq.fill(10 + rnd.nextInt(91))(s"nw${rnd.nextInt(400)}").mkString(" ")
        (id, t, langs(rnd.nextInt(langs.size)), 1L)
      }
    }
    val p = ctx.path("inputs/doc_batch")
    rows.map(r => (r._1, r._2, r._3, s"src${r._1 % 20}", r._2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(p)
    (p, rows.map(r => r._1 -> r._4).toMap)
  }

  private def vectors(n: Int, base: Long): String = {
    val rnd = new scala.util.Random(ctx.seed ^ base)
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (base + i, v.map(x => (x / norm).toFloat).toSeq, rnd.nextInt(10))
    }
    val p = ctx.path(s"inputs/vec_$base")
    rows.toDF("vec_id", "embedding", "label").write.parquet(p)
    p
  }
  lazy val vecBatch: String = vectors(200, 1000000L)
  lazy val queryVecs: String = vectors(50, 2000000L)

  /** Partitioned delivery source B: the customer table with five seeded
    * nations' balances changed and two seeded nations removed. */
  val (customerB: String, customerBRows: Long) = {
    val p = ctx.path("inputs/customer_b")
    val b = graft.Tables.customer(ctx.spark, ctx.data)
      .where(!col("c_nationkey").isin(removed: _*))
      .withColumn("c_acctbal", when(col("c_nationkey").isin(modified: _*),
        col("c_acctbal") + 1.0).otherwise(col("c_acctbal")))
    b.write.partitionBy("c_nationkey").parquet(p)
    (p, ctx.spark.read.parquet(p).count())
  }

  /** The delivery indexes, each built once from the base corpus on first
    * use (an index is built once and refreshed per batch); build seconds
    * are kept for the per-layer report. */
  private val buildTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def builds: Map[String, Double] = buildTimes.toMap
  private def built(name: String, dir: String)(f: String => Unit): String = {
    val p = ctx.path(s"indexes/$dir")
    val t0 = System.nanoTime(); f(p); Main.sweep(ctx.spark)
    buildTimes(name) = (System.nanoTime() - t0) / 1e9
    p
  }
  lazy val digestIndex: String = built("digest_build", "digest")(DigestIndex.build(ctx.spark, ctx.data, _))
  lazy val signatureIndex: String = built("sig_build", "signature")(SignatureIndex.build(ctx.spark, ctx.data, _))
  lazy val pqIndex: String = built("pq_build", "pq")(PqIndex.build(ctx.spark, ctx.data, _))
}

object Workloads {
  private def q(name: String): Op = Op(name, ctx => {
    val df = ctx.span("queries.build")(SparkEntry.queries(name)(ctx.spark, ctx.data))
    val rows = ctx.span("queries.exec")(df.queryExecution.toRdd.count())
    if (ctx.tracer.nonEmpty) ctx.lastPlan = Some(df.queryExecution.executedPlan)
    rows
  }, Some(ctx => SparkEntry.queries(name)(ctx.spark, ctx.data)), outputRuns = true)

  // ---- dedup: pair / cluster / ANN / iterative-graph work -------------
  val dedupQueries = Seq(
    "llm_jaccard_pairs", "llm_minhash", "llm_pair_table", "llm_dedup_cluster",
    "llm_cluster_sizes", "llm_dedup_incremental", "llm_simhash",
    "llm_ngram_jaccard", "llm_containment", "llm_contamination",
    "llm_span_dedup", "llm_ann_ivf", "llm_ann_pq", "llm_kmeans",
    "llm_cosine_topk", "llm_semdedup", "llm_embed_neardup",
    "llm_hardneg_mine", "graph_pagerank", "graph_cc", "graph_khop",
    "graph_jaccard")

  private val pairTableWrite = Op("pair_table_write", ctx => {
    val out = ctx.path("artifacts/pairs")
    ctx.span("pipelines.pair_table")(PairTable.write(ctx.spark, ctx.data, out))
    ctx.spark.read.parquet(out).count()
  }, Some(ctx => ctx.spark.read.parquet(ctx.path("artifacts/pairs"))))

  /** Reads the pair table the warm-up pass wrote (every pass rewrites the
    * same rows, so op order within a pass does not matter). */
  private def ccLabels(ctx: Ctx): DataFrame =
    graft.ops.ConnectedComponents.auto(ctx.spark.read.parquet(ctx.path("artifacts/pairs"))
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))._1
  private val ccAuto = Op("cc_auto",
    ctx => ctx.span("ops.cc")(ccLabels(ctx).count()), Some(ccLabels), outputRuns = true)

  private val corpusPrep = Op("corpus_prep",
    ctx => ctx.span("pipelines.corpus_prep")(CorpusPrep.run(ctx.spark, ctx.data).count()),
    Some(ctx => CorpusPrep.run(ctx.spark, ctx.data)), outputRuns = true)

  // ---- delivery: writes beside reads -----------------------------------
  val deliveryQueries = Seq(
    "copy_compact", "copy_partitioned", "sink_parquet", "sink_stream",
    "source_binary", "source_csv", "source_json", "source_orc",
    "source_text", "join_bucketed", "graph_edges_build", "dq_manifest")

  private val deliverOrders = Op("deliver_orders", ctx => {
    val src = graft.Tables.servingPath(ctx.spark, ctx.data, "orders")
    val dst = ctx.path("delivery/orders")
    val copied = ctx.span("delivery.copy")(Deliver.copy(ctx.spark, src, dst))
    val m = ctx.span("delivery.manifest")(Deliver.manifest(ctx.spark, dst))
    val ok = ctx.span("delivery.verify")(
      Deliver.verifyDelivery(ctx.spark, src, "parquet", dst, "parquet"))
    ctx.check(ok, "verifyDelivery(orders) is false")
    ctx.check(m == copied, s"manifest $m != copy report $copied")
    m.rows
  })

  private def deliverSync(in: => Inputs) = Op("deliver_sync", ctx => {
    val dst = ctx.path("delivery/customer")
    ctx.span("delivery.copy")(Deliver.copy(ctx.spark,
      graft.Tables.servingPath(ctx.spark, ctx.data, "customer"), dst,
      partitionBy = Seq("c_nationkey")))
    val (changed, stale, report) = ctx.span("delivery.sync")(
      Deliver.syncPartitions(ctx.spark, in.customerB, dst, "c_nationkey"))
    ctx.check(changed == in.modified.map(_.toString).sorted,
      s"sync rewrote $changed, expected ${in.modified}")
    ctx.check(stale == in.removed.map(_.toString).sorted,
      s"sync deleted $stale, expected ${in.removed}")
    ctx.check(report.rows == in.customerBRows,
      s"synced manifest has ${report.rows} rows, source ${in.customerBRows}")
    report.rows
  })

  private def checkVerdicts(ctx: Ctx, in: Inputs, got: Array[org.apache.spark.sql.Row],
                            what: String): Long = {
    val verdicts = got.map(r => r.getLong(0) -> r.getLong(r.length - 1)).toMap
    ctx.check(verdicts == in.keepByDoc,
      s"$what verdicts differ from the exact anti-join on " +
        s"${in.keepByDoc.count { case (d, k) => !verdicts.get(d).contains(k) }} docs")
    got.length.toLong
  }

  private def digestRefresh(in: => Inputs) = Op("digest_refresh", ctx => {
    val idx = in.digestIndex
    val got = ctx.span("pipelines.digest_refresh")(DigestIndex.refresh(ctx.spark,
      ctx.spark.read.parquet(in.docBatch), idx).collect())
    checkVerdicts(ctx, in, got, "DigestIndex.refresh")
  })

  private def signatureRefresh(in: => Inputs) = Op("signature_refresh", ctx => {
    val idx = in.signatureIndex
    val got = ctx.span("pipelines.sig_refresh")(SignatureIndex.refresh(ctx.spark,
      ctx.spark.read.parquet(in.docBatch), idx).collect())
    checkVerdicts(ctx, in, got, "SignatureIndex.refresh")
  })

  /** Encode the seeded vector batch into the index (batch 1, rewritten in
    * place every pass) and search it with the seeded query vectors. */
  private def pqRefresh(in: => Inputs) = Op("pq_refresh", ctx => {
    val idx = in.pqIndex
    ctx.span("pipelines.pq_extend")(
      PqIndex.extend(ctx.spark, ctx.spark.read.parquet(in.vecBatch), idx, 1L))
    val k = 3
    val got = ctx.span("pipelines.pq_search")(PqIndex.search(ctx.spark,
      ctx.spark.read.parquet(in.queryVecs), idx, k).collect())
    // any seed: every query gets exactly k neighbours, ranked 1..k by
    // non-decreasing distance, drawn from the base corpus or the batch
    def num(r: org.apache.spark.sql.Row, c: String) = r.getAs[Number](c).longValue
    val byQ = got.groupBy(num(_, "qid"))
    ctx.check(byQ.size == 50 && byQ.values.forall { rs =>
      val s = rs.sortBy(num(_, "rn"))
      s.map(num(_, "rn")).toSeq == (1L to k) &&
        s.map(_.getAs[Number]("ad2").doubleValue).sliding(2).forall(p => p.size < 2 || p(0) <= p(1)) &&
        s.forall { r => val v = num(r, "vid"); v < 2000L || (v >= 1000000L && v < 1000200L) }
    }, "PqIndex.search broke the top-k invariants")
    got.length.toLong
  })

  def names(workload: String): Seq[String] = workload match {
    case "catalog" => Mix.catalog
    case "dedup" => Mix.dedup
    case "delivery" => Mix.delivery
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Every op the harness knows, by name. `in` is forced only by the
    * delivery-pipeline ops, so other workloads skip generating it. */
  def all(in: => Inputs): Map[String, Op] = {
    val qs = SparkEntry.queries.keys.map(n => n -> q(n)).toMap
    qs ++ Seq(pairTableWrite, ccAuto, corpusPrep, deliverOrders, deliverSync(in),
      digestRefresh(in), signatureRefresh(in), pqRefresh(in)).map(o => o.name -> o)
  }

  /** Bytes of the source files the delivery ops copy or sync from. */
  def deliverySourceBytes(ctx: Ctx, names: Seq[String], in: Option[Inputs]): Double = {
    def du(p: String) = Files.du(new java.io.File(p))._2.toDouble
    def serving(t: String) = graft.Tables.servingPath(ctx.spark, ctx.data, t)
    (if (names.contains("deliver_orders")) du(serving("orders")) else 0.0) +
      (if (names.contains("deliver_sync")) du(serving("customer")) + in.map(i => du(i.customerB)).getOrElse(0.0)
       else 0.0)
  }

  /** Ops whose results depend on the seeded inputs: their checks run
    * inside the op, so they have no golden row count or fingerprint. */
  val seeded = Set("deliver_sync", "digest_refresh", "signature_refresh", "pq_refresh")
}

/** The fixed op mix of each workload: a representative slice of each
  * family, sized so that set-up plus at least two passes fit one run.
  * `probes` run once, traced, after the traced passes. */
object Mix {
  val catalog: Seq[String] = Seq("agg_hash", "join_shuffle", "fn_json", "llm_token_stats")
  val dedup: Seq[String] = Seq("llm_dedup_cluster", "llm_ann_pq")
  val delivery: Seq[String] = Seq("deliver_orders", "deliver_sync", "digest_refresh")
  /** Fewest timed passes an untraced run makes, whatever --seconds says:
    * the process CPU of a pass is still falling with JIT warm-up after
    * three passes, so the workloads with short passes make more. */
  def minPasses(workload: String): Int = workload match {
    case "catalog" => 6
    case "dedup" => 4
    case _ => 3
  }
  def probes(workload: String): Seq[String] = workload match {
    case "dedup" => Seq("pair_table_write", "cc_auto", "corpus_prep")
    case "delivery" => Seq("signature_refresh", "pq_refresh")
    case _ => Nil
  }
}
