package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** ns per call of the graft_* codegen kernels, called through their
  * registered SQL functions. A small seeded frame of wide arguments
  * (1024-element vectors, 256-element sets, a 64-code PQ codebook,
  * 256-subspace ADC codes) is broadcast and cross-joined with `range(Fan)`, so every
  * joined row reads its arguments in place from the broadcast rows and
  * the kernel's own loop is most of the work per row. Each row picks one
  * of two arguments by the range id, so the kernel cannot be hoisted
  * below the join. The same query over `size(pick(a, b))` is the
  * baseline: the join, projection and sum every probe pays. Each kernel
  * figure is core-ns per row (wall × cores / rows) minus the baseline's;
  * the baseline is reported on its own. */
object Kernels {
  private val BaseRows = 64
  private val Fan = 4096
  private val Width = 1024 // dot vector width
  private val SetSize = 256 // icount sets hold ~SetSize of 4 × SetSize values
  private val M = 4        // PQ subspaces
  private val K = 64       // codes per subspace
  private val SubDim = 16  // subvector width
  private val AdcM = 256   // ADC subspaces per code vector
  private val AdcK = 16

  def probe(spark: SparkSession): Seq[(String, Double)] = {
    graft.functions.VectorExprs.register(spark)
    val cores = spark.sparkContext.defaultParallelism
    val rnd = new scala.util.Random(7)
    val cb: Array[Array[Array[Double]]] =
      Array.fill(M, K)(Array.fill(SubDim)(rnd.nextGaussian()))
    val tab: Array[Array[Long]] = Array.fill(AdcM, AdcK)(rnd.nextInt(1 << 20).toLong)
    val frame = spark.range(BaseRows).select(
      expr(s"transform(sequence(0, ${Width - 1}), i -> sin(id * $Width + i))").as("a"),
      expr(s"transform(sequence(0, ${Width - 1}), i -> cos(id * $Width + i))").as("b"),
      expr(s"filter(sequence(0L, ${4L * SetSize - 1}L), i -> pmod(hash(id, i), 4) = 0)").as("x"),
      expr(s"filter(sequence(0L, ${4L * SetSize - 1}L), i -> pmod(hash(id + 1, i), 4) = 0)").as("y"),
      expr(s"cast(pmod(id, $M) as int)").as("sub"),
      expr(s"transform(sequence(0, ${SubDim - 1}), i -> sin(id * 7 + i))").as("sv"),
      expr(s"transform(sequence(0, ${SubDim - 1}), i -> cos(id * 7 + i))").as("sv2"),
      expr(s"transform(sequence(0, ${AdcM - 1}), i -> cast(pmod(hash(id, i), $AdcK) as int))").as("codes"),
      expr(s"transform(sequence(0, ${AdcM - 1}), i -> cast(pmod(hash(id + 1, i), $AdcK) as int))").as("codes2"))
      .withColumn("nsv", expr("aggregate(sv, 0D, (s, v) -> s + v * v)"))
      .withColumn("nsv2", expr("aggregate(sv2, 0D, (s, v) -> s + v * v)"))
      .cache()
    frame.count()
    val joined = spark.range(Fan).crossJoin(broadcast(frame))
    def pick(a: String, b: String) = expr(s"if(id % 2 = 0, $a, $b)")
    val kernels = Seq(
      "baseline" -> size(pick("a", "b")),
      "graft_dot" -> call_function("graft_dot", pick("a", "b"), col("b")),
      "graft_icount" -> call_function("graft_icount", pick("x", "y"), col("y")),
      "graft_pq_argmin" -> call_function("graft_pq_argmin", typedlit(cb), col("sub"),
        pick("sv", "sv2"), pick("nsv", "nsv2")),
      "graft_adc" -> call_function("graft_adc", pick("codes", "codes2"), typedlit(tab)))
    // a fresh Dataset per run: re-collecting one would reuse its
    // materialized AQE shuffle stage and time only the final sum
    def run(k: Column): Double = {
      val t0 = System.nanoTime(); joined.select(sum(k.cast("double"))).collect()
      (System.nanoTime() - t0).toDouble
    }
    kernels.foreach { case (_, k) => run(k) } // compile + JIT outside the timing
    // round-robin, so a warm-up or co-tenant trend is shared by all probes
    val times = (1 to 5).flatMap(_ => kernels.map { case (name, k) => name -> run(k) }).groupBy(_._1)
    val perRow = kernels.map { case (name, _) =>
      name -> Stats.median(times(name).map(_._2)) * cores / (BaseRows.toDouble * Fan)
    }.toMap
    frame.unpersist(blocking = true)
    kernels.map { case (name, _) =>
      name -> (if (name == "baseline") perRow(name) else perRow(name) - perRow("baseline"))
    }
  }
}
