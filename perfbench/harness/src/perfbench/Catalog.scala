package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalog workloads: passes over a list of `graft.SparkEntry.queries`. Each
  * op is `Q.run` (the build, which may run eager loops and pin builds)
  * followed by one fingerprint action over the whole plan. */
object Catalog {

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  final case class Op(name: String, seconds: Double, buildS: Double, actionS: Double,
      rows: Long, hash: String, error: String)

  def run(o: Harness.Opts): Map[String, Any] = {
    val tr = new Tracer(o.trace)
    val setups = mutable.ArrayBuffer.empty[Double]
    val warm = (s: SparkSession) =>
      Tables.foreach(t => s.read.parquet(s"${o.data}/$t.parquet").schema)
    var spark = Harness.setUp(o, setups)(warm)
    (2 to o.setups).foreach { _ =>
      Harness.stop(spark)
      spark = Harness.setUp(o, setups)(warm)
    }
    tr.attach(spark)
    val queries = graft.SparkEntry.queries
    val names = o.queries
    names.foreach(n => require(queries.contains(n), s"unknown query $n"))

    def pass(): (Seq[Op], Double, Seq[Span]) = {
      val first = tr.spans.size
      val t0 = System.nanoTime()
      val ops = names.map { name =>
        val op = tr.newOp()
        var build, action = 0.0
        try {
          val (fp, wall) = tr.span(spark, op, "catalog", name) {
            val (df, b) = tr.span(spark, op, "catalog.build", name)(queries(name)(spark, o.data))
            build = b
            val (p, a) = tr.span(spark, op, "catalog.action", name)(Fingerprint.of(df))
            action = a
            p
          }
          System.err.println(f"[perfbench] $name%-28s $wall%8.3f s")
          Op(name, wall, build, action, fp.rows, fp.hash, null)
        } catch {
          case e: Throwable =>
            Op(name, build + action, build, action, -1L, "",
              s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300))
        }
      }
      (ops, (System.nanoTime() - t0) / 1e9, tr.spans.drop(first).toSeq)
    }

    val start = System.nanoTime()
    val (cold, coldS, coldSpans) = pass()
    val warmPasses = mutable.ArrayBuffer.empty[(Seq[Op], Double)]
    // Warm passes feed only per-layer figures, so only traced runs make
    // them: at least one, more while they fit in --seconds.
    while (o.trace && (warmPasses.isEmpty ||
      (System.nanoTime() - start) / 1e9 + warmPasses.map(_._2).max <= o.seconds)) {
      val (ops, s, _) = pass()
      warmPasses += ((ops, s))
    }
    val retainedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    tr.drain(spark)
    tr.settle()

    val layers: Map[String, Any] = if (!o.trace) Map.empty else {
      val warm1 = warmPasses.head._1.map(op => op.name -> op.seconds).toMap
      val coldIds = coldSpans.map(_.id).toSet
      def inCold(layer: String)(s: Span) = coldIds(s.id) && s.layer == layer
      val catalog = Harness.layer(tr, "catalog", o.cores)(s => coldIds(s.id) && s.layer != "catalog")
      val operators = Harness.layer(tr, "operators", o.cores)(inCold("catalog.build"))
      val plans = Harness.layer(tr, "plans", o.cores)(s => coldIds(s.id))
      catalog ++ operators ++ plans ++ Map(
        "operators.jobs_per_query" -> operators("operators.jobs") / names.size,
        "catalog.build_s" -> cold.map(_.buildS).sum,
        "catalog.action_s" -> cold.map(_.actionS).sum,
        "catalog.cold_extra_s" -> cold.map(op => op.seconds - warm1.getOrElse(op.name, op.seconds)).sum,
        "catalog.retained_storage_mb" -> retainedMb,
        "trace.cold_pass_s" -> coldS)
    }
    val out = Map(
      "setup_s" -> setups.toSeq,
      "cold" -> cold.map(opJson),
      "cold_pass_s" -> coldS,
      "warm" -> warmPasses.toSeq.map { case (ops, s) => Map("seconds" -> s, "ops" -> ops.map(opJson)) },
      "retained_storage_mb" -> retainedMb,
      "layers" -> layers,
      "spans" -> (if (o.trace) Harness.spansJson(tr) else Seq.empty),
      "health" -> Harness.health(spark))
    Harness.stop(spark)
    out
  }

  private def opJson(op: Op): Map[String, Any] = Map(
    "name" -> op.name, "seconds" -> op.seconds, "build_s" -> op.buildS,
    "action_s" -> op.actionS, "rows" -> op.rows, "hash" -> op.hash, "error" -> op.error)

  /** For each query: does the optimized plan of `count()` keep the final
    * Sort, and does the plan of the fingerprint action keep it? */
  def planCheck(o: Harness.Opts): Map[String, Any] = {
    val spark = Harness.session(o)
    val seen = mutable.Map.empty[String, QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(seen(f) = qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def sortIn(f: String): Boolean = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      seen.synchronized(seen.get(f)).exists(_.optimizedPlan.find(_.isInstanceOf[Sort]).isDefined)
    }
    val res = o.queries.map { name =>
      val df: DataFrame = graft.SparkEntry.queries(name)(spark, o.data)
      df.count()
      val inCount = sortIn("count")
      Fingerprint.of(df)
      name -> Map("count_plan_sort" -> inCount, "action_plan_sort" -> sortIn("foreachPartition"))
    }.toMap
    Harness.stop(spark)
    Map("plans" -> res)
  }
}
