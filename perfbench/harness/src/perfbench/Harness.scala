package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness: drives the program's public entry points from outside
  * and writes one JSON record of raw measurements. `perfbench/run.py` turns
  * that record into the benchmark's metrics and checks the outputs.
  *
  * Usage: perfbench.Harness --workload W --data DIR --work DIR --out FILE
  *   [--seconds S] [--trace 0|1] [--cores N] [--setups K] [--queries a,b,...]
  *   [--base DIR --delta DIR]
  *
  * Workloads: `catalog` runs the `--queries` list over the parquet tables in
  * `--data`: one cold pass in a fresh session; traced runs then make warm
  * passes on the same session (at least one, more while they fit in
  * `--seconds`). `etl` loads
  * `--base` then reloads `--delta` into one state directory through
  * `graft.Pipeline`, then runs a fixed list of `graft.Report` state calls.
  * `plancheck` records whether the timed action keeps each query's final
  * Sort (used by the self-tests).
  */
object Harness {

  final case class Opts(args: Map[String, String]) {
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String, default: String): String = args.getOrElse(k, default)
    def workload: String = apply("workload")
    def data: String = get("data", "")
    def work: String = apply("work")
    def seconds: Double = get("seconds", "10").toDouble
    def trace: Boolean = get("trace", "0") == "1"
    def cores: Int = get("cores", "4").toInt
    def setups: Int = get("setups", "3").toInt
    def queries: Seq[String] = get("queries", "").split(",").toSeq.filter(_.nonEmpty)
  }

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    Opts(args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad flag $k"); k.drop(2) -> v
    }.toMap)
  }

  /** The session every workload runs on: the confs of the program's own
    * mains, with scratch and warehouse directories under `work`. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Session build plus `warm`, timed; the result joins `samples`. */
  def setUp(o: Opts, samples: mutable.Buffer[Double])(warm: SparkSession => Unit): SparkSession = {
    val t0 = System.nanoTime()
    val spark = session(o)
    spark.range(0, 1000, 1, o.cores).selectExpr("sum(id)").collect()
    warm(spark)
    samples += (System.nanoTime() - t0) / 1e9
    spark
  }

  /** Session confs and JVM facts stamped on every result. */
  def health(spark: SparkSession): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "jvm_heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "jvm_processors" -> Runtime.getRuntime.availableProcessors,
    "spark_version" -> spark.version,
    "confs" -> spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.driver.memory"
    }.toSeq.sortBy(_._1).toMap)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val out = o.workload match {
      case "catalog" => Catalog.run(o)
      case "etl" => Etl.run(o)
      case "plancheck" => Catalog.planCheck(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValueAsString(out)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o("out")), json)
  }

  /** Per-layer figures from the traced spans: self seconds plus the common
    * counter set, summed over the spans `pick` selects. */
  def layer(tr: Tracer, prefix: String, cores: Int)(pick: Span => Boolean): Map[String, Double] = {
    val ss = tr.spans.filter(pick).toSeq
    val cs = ss.map(s => tr.of(s.id))
    val wall = ss.map(_.nanos).sum / 1e9
    val run = cs.map(_.execRunMs).sum / 1e3
    def mb(f: Counters => Long) = cs.map(f).sum / 1e6
    Map(
      "jobs" -> cs.map(_.jobs).sum.toDouble,
      "stages" -> cs.map(_.stages).sum.toDouble,
      "tasks" -> cs.map(_.tasks).sum.toDouble,
      "exec_run_s" -> run,
      "exec_cpu_s" -> cs.map(_.execCpuNs).sum / 1e9,
      "gc_s" -> cs.map(_.gcMs).sum / 1e3,
      "shuffle_write_mb" -> mb(_.shuffleWrite),
      "shuffle_read_mb" -> mb(_.shuffleRead),
      "spill_mb" -> mb(_.spill),
      "aqe_replans" -> cs.map(_.aqeReplans).sum.toDouble,
      "driver_gap_s" -> ss.map(tr.driverGapSeconds).sum,
      "slot_util" -> (if (wall > 0) run / (wall * cores) else 0.0),
      "self_s" -> ss.map(tr.selfSeconds).sum,
      "bytes_written_mb" -> mb(_.outBytes),
      "analysis_s" -> cs.map(_.analysisMs).sum / 1e3,
      "optimizer_s" -> cs.map(_.optimizerMs).sum / 1e3,
      "physical_s" -> cs.map(_.physicalMs).sum / 1e3,
      "executions" -> cs.map(_.executions).sum.toDouble
    ).map { case (k, v) => s"$prefix.$k" -> v }
  }

  def spansJson(tr: Tracer): Seq[Map[String, Any]] = tr.spans.toSeq.map { s =>
    Map("id" -> s.id, "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "seconds" -> s.nanos / 1e9)
  }
}
