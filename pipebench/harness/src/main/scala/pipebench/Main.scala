package pipebench

import graft.Graft
import graft.pipeline._
import java.nio.file.{Files, Paths}

/** Runs one workload from a plan file made by `run.py` and writes the
  * raw report (op records) and, when tracing, the spans. All metric
  * arithmetic and output checks happen in `run.py`.
  *
  *   Main --plan <plan.json> --work <dir> --out <report.json>
  *        --trace <0|1> --spans <spans.jsonl>
  *   Main --record <sfDir> <outDir>   (digest every query once)
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--record")) {
      val spark = session(4, args(2))
      try QueryWorkload.record(spark, args(1), args(2)) finally spark.stop()
      return
    }
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val plan = Json.parse(new String(Files.readAllBytes(Paths.get(opt("plan"))), "UTF-8"))
      .asInstanceOf[PObj]
    val work = opt("work")
    val trace = new Trace(opt.get("trace").contains("1"))
    val spark = session(plan.m("cores").asLong.toInt, work)
    try {
      val ready = Report.wallUs(java.time.Instant.now())
      HostProbe.warm()
      if (trace.enabled) SparkProbe.attach(spark, trace)
      val measured = plan.m("workload").asString match {
        case "pipeline_service" => ServiceWorkload.run(spark, plan, work, trace)
        case "query_battery"    => QueryWorkload.run(spark, plan, trace)
        case "bulk_pipeline"    => BulkWorkload.run(spark, plan, work, trace)
        case other              => sys.error(s"unknown workload $other")
      }
      val report = measured.copy(sessionWallUs = ready,
        probes = HostProbe.intervals.map { case (s, e, ns) => (trace.rel(s), trace.rel(e), ns) })
      if (trace.enabled) { SparkProbe.drain(); trace.write(opt("spans")) }
      Files.write(Paths.get(opt("out")), report.toJson.getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** The session shape of `graft.Bench`: local[cores], one shuffle
    * partition per core, no UI; temporary files inside `work`. */
  def session(cores: Int, work: String) = {
    val spark = Graft.sessionBuilder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
