package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, current_timestamp, lit}

import graft.{Pipeline, Report}
import graft.model.CrmSchema
import graft.temporal.ScdLoader
import graft.transform.{EdgeBuilder, GraphTransform}

/** The ETL workload: `Pipeline.run` of a base snapshot into an empty state
  * directory, `Pipeline.run` of a delta snapshot into the same directory
  * from a fresh session (as the CLI does), then the fixed list of
  * `Report.run` state calls, once, in a fresh JVM.
  *
  * Traced runs then call the layers `Pipeline.run` composes, in a session
  * of their own after every measured call, so that none of the measured
  * calls is warmed by them: `transformAll` plus `EdgeBuilder.validate`,
  * `ScdLoader.applyScd` over the five SCD tables and `ScdLoader.edgeChanges`,
  * for the base snapshot against an empty state and for the delta snapshot
  * against a copy of the state as the load left it.
  */
object Etl {

  val Tables = Seq("users", "contacts", "companies", "deals", "activities")
  val EventTables = Seq("email_opens", "email_clicks", "form_submissions")
  val Reports: Seq[(String, Seq[String])] = Seq(
    "temporal_stats" -> Seq("--temporal-stats"),
    "recent_changes" -> Seq("--recent-changes", "48"),
    "rel_changes" -> Seq("--rel-changes", "20"),
    "deleted" -> Seq("--deleted"),
    "ownership_changes" -> Seq("--ownership-changes"),
    "graph_rank" -> Seq("--graph-rank"))

  private def raw(spark: SparkSession, dir: String) = {
    def read(n: String, s: org.apache.spark.sql.types.StructType) =
      spark.read.schema(s).json(s"$dir/$n.json")
    Pipeline.transformAll(read("users", CrmSchema.users),
      read("contacts", CrmSchema.envelope), read("companies", CrmSchema.envelope),
      read("deals", CrmSchema.envelope), read("engagements", CrmSchema.envelope),
      read("email_events", CrmSchema.emailEvents),
      read("form_submissions", CrmSchema.formSubmissions))
  }

  /** Traced-only layer calls for one snapshot against the state as it is
    * before that snapshot's `Pipeline.run`. */
  private def layers(spark: SparkSession, tr: Tracer, op: Int, rawDir: String,
      state: String, tag: String): Map[String, Double] = {
    val loadTs = current_timestamp()
    val ((g, valid, rowsOut), _) = tr.span(spark, op, "transform", s"transform_$tag") {
      val g = raw(spark, rawDir)
      val valid = EdgeBuilder.validate(g.edges, Pipeline.nodeIds(g)).cache()
      val nodes = Seq(g.users, g.contacts, g.companies, g.deals, g.activities,
        g.campaigns, g.webPages, g.opens, g.clicks, g.forms)
      (g, valid, (nodes :+ valid).map(Fingerprint.of(_).rows).sum)
    }
    val (historyRows, _) = tr.span(spark, op, "temporal", s"scd_$tag") {
      Seq(g.users, g.contacts, g.companies, g.deals, g.activities).zip(Tables).map {
        case (nodes, name) =>
          val incoming = GraphTransform.withTemporal(nodes, loadTs)
          val current = Pipeline.currentTable(spark, state, name).getOrElse(incoming.limit(0))
          val r = ScdLoader.applyScd(current, incoming, loadTs)
          Fingerprint.of(r.current)
          Fingerprint.of(r.historyAppend).rows
      }.sum
    }
    val (relRows, _) = tr.span(spark, op, "temporal", s"edge_diff_$tag") {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$state/edges"))) 0L
      else Fingerprint.of(ScdLoader.edgeChanges(
        spark.read.parquet(s"$state/edges"), valid, loadTs)).rows
    }
    valid.unpersist()
    Map("transform.rows_out" -> rowsOut.toDouble,
      "temporal.history_rows" -> historyRows.toDouble,
      "temporal.relchange_rows" -> relRows.toDouble)
  }

  /** Row counts of the state after the reload, for the output check, in
    * one query over every table. */
  private def stateCounts(spark: SparkSession, state: String): Map[String, Long] = {
    val perTable = Tables.flatMap { t =>
      Seq(s"current_$t" -> Pipeline.currentTable(spark, state, t),
        s"history_$t" -> Pipeline.historyTable(spark, state, t))
    }
    val rel = Pipeline.relChanges(spark, state)
    val changes = Seq("added", "removed").map { c =>
      s"relchanges_$c" -> rel.map(_.filter(col("change_type") === c))
    }
    val events = EventTables.map(t => s"events_$t" -> Some(spark.read.parquet(s"$state/events_$t")))
    val tables = perTable ++ changes ++ events :+ ("edges" -> Some(spark.read.parquet(s"$state/edges")))
    val rows = tables.collect { case (k, Some(df)) => df.select(lit(k).as("k")) }
      .reduce(_ unionByName _).groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tables.map { case (k, _) => k -> rows.getOrElse(k, 0L) }.toMap
  }

  private def dirStats(path: String): (Long, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      val fs = files.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      val data = fs.filterNot { p =>
        val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_")
      }
      (data.length.toLong, fs.map(java.nio.file.Files.size).sum)
    } finally files.close()
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val files = java.nio.file.Files.walk(src)
    try files.forEach { p =>
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally files.close()
  }

  def run(o: Harness.Opts): Map[String, Any] = {
    val tr = new Tracer(o.trace)
    val setups = mutable.ArrayBuffer.empty[Double]
    val (base, delta) = (o("base"), o("delta"))
    val state = s"${o.work}/state"
    val loaded = s"${o.work}/state_loaded"
    val warm = (s: SparkSession) => Seq(base, delta).foreach { d =>
      s.read.schema(CrmSchema.envelope).json(s"$d/contacts.json").count()
    }
    // Throwaway set-ups first, so the load and reload sessions are the
    // last two of `--setups` samples.
    (3 to o.setups).foreach(_ => Harness.stop(Harness.setUp(o, setups)(warm)))
    val op = tr.newOp()
    var spark = Harness.setUp(o, setups)(warm)
    tr.attach(spark)
    val (_, loadS) = tr.span(spark, op, "pipeline", "load")(Pipeline.run(spark, base, state))
    tr.drain(spark)
    Harness.stop(spark)
    // Traced runs keep the state as the load left it, for the reload's
    // layer calls; the copy is made between the two timed calls.
    if (o.trace) copyTree(state, loaded)
    spark = Harness.setUp(o, setups)(warm)
    tr.attach(spark)
    val (_, reloadS) = tr.span(spark, op, "pipeline", "reload")(Pipeline.run(spark, delta, state))
    val t0 = System.nanoTime()
    val reports = Reports.map { case (name, flags) =>
      val dir = s"${o.work}/reports/$name"
      val args = (state +: flags) ++ Seq("--format", "json", "--out", dir)
      val (rc, s) = tr.span(spark, op, "query", name)(Report.run(spark, args.toArray))
      Map("name" -> name, "seconds" -> s, "rc" -> rc, "dir" -> dir)
    }
    val reportS = (System.nanoTime() - t0) / 1e9
    val counts = stateCounts(spark, state)
    val (files, bytes) = dirStats(state)
    tr.drain(spark)
    val health = Harness.health(spark)
    Harness.stop(spark)

    val layerOut: Map[String, Any] = if (!o.trace) Map.empty else {
      spark = Harness.session(o)
      tr.attach(spark)
      val loadLayers = layers(spark, tr, op, base, s"${o.work}/state_empty", "load")
      val reloadLayers = layers(spark, tr, op, delta, loaded, "reload")
      tr.drain(spark)
      tr.settle()
      Harness.stop(spark)
      val layerFigs = (loadLayers.keySet ++ reloadLayers.keySet).map(k =>
        k -> (loadLayers.getOrElse(k, 0.0) + reloadLayers.getOrElse(k, 0.0))).toMap
      def in(layer: String)(s: Span) = s.op == op && s.layer == layer
      def self(prefix: String) =
        tr.spans.filter(s => s.op == op && s.name.startsWith(prefix)).map(tr.selfSeconds).sum
      val pipe = Harness.layer(tr, "pipeline", o.cores)(in("pipeline"))
      val transform = Harness.layer(tr, "transform", o.cores)(in("transform"))
      val temporal = Harness.layer(tr, "temporal", o.cores)(in("temporal"))
      val query = Harness.layer(tr, "query", o.cores)(in("query"))
      val perReport = tr.spans.filter(in("query")).map(s => s"query.${s.name}_s" -> s.nanos / 1e9)
      // An estimate: the layer calls run apart from Pipeline.run, warmer
      // (same JVM, later), so the difference can go below 0; it is floored
      // and the raw difference kept beside it.
      val writeRaw = pipe("pipeline.self_s") - transform("transform.self_s") - temporal("temporal.self_s")
      pipe ++ transform ++ temporal ++ query ++ layerFigs ++ perReport ++ Map(
        "transform.s" -> transform("transform.self_s"),
        "temporal.scd_s" -> self("scd_"),
        "temporal.edge_diff_s" -> self("edge_diff_"),
        "pipeline.write_s" -> math.max(0.0, writeRaw),
        "pipeline.write_s_raw" -> writeRaw,
        "trace.cold_pass_s" -> (loadS + reloadS + reportS))
    }
    Map(
      "setup_s" -> setups.toSeq,
      "load_s" -> loadS, "reload_s" -> reloadS,
      "reports" -> reports, "report_pass_s" -> reportS,
      "counts" -> counts, "state_files" -> files, "state_bytes" -> bytes,
      "layers" -> layerOut,
      "spans" -> (if (o.trace) Harness.spansJson(tr) else Seq.empty),
      "health" -> health)
  }
}
