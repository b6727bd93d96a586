package pipebench

import graft.SparkEntry
import graft.pipeline._
import org.apache.spark.sql.{Row, SparkSession}

/** query_battery: one client running `SparkEntry.queries` in the order
  * the plan gives. Each op collects every row and column of its result;
  * the digest of the rows is taken after the op's clock stops. */
object QueryWorkload {
  /** Queries between two host probes. */
  val ProbeEvery = 4

  /** Order-free digest of a result: each row rendered canonically,
    * the rendered rows sorted, the whole hashed with SHA-256. Doubles
    * keep 12 significant digits, so a sum whose last bits depend on task
    * order still digests the same. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => render(r)).sorted.foreach { line =>
      md.update(line.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else BigDecimal(d).round(new java.math.MathContext(12)).bigDecimal
      .stripTrailingZeros.toPlainString

  /** Digest and row count of every query, plus each result as parquet
    * and the oracle SQL, so `tools/check_correctness.py` can confirm
    * the digested results against DuckDB. */
  def record(spark: SparkSession, sf: String, out: String): Unit = {
    val battery = SparkEntry.queries.toSeq.filterNot(q => SparkEntry.benchHeavy(q._1))
    val entries = battery.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sf)
      val rows = df.collect()
      df.write.mode("overwrite").parquet(s"$out/$name")
      name -> PObj(Map("digest" -> PStr(digest(rows)), "rows" -> PInt(rows.length.toLong)))
    }
    def write(file: String, v: PValue): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/$file"), Json.render(v).getBytes("UTF-8"))
    write("digests.json", PObj(entries.toMap))
    write("oracle_sql.json", PObj(SparkEntry.oracleSql.collect {
      case (k, v) if !SparkEntry.benchHeavy(k) => k -> PStr(v) }))
  }

  def run(spark: SparkSession, plan: PObj, trace: Trace): Report = {
    val sf = plan.m("sf_dir").asString
    val queries = SparkEntry.queries
    val sc = spark.sparkContext

    def runOp(op: PObj): OpRecord = {
      val id = op.m("id").asString
      val name = op.m("query").asString
      sc.setLocalProperty(SparkProbe.OpKey, id)
      val t0 = System.nanoTime()
      val rows = try Right(queries(name)(spark, sf).collect())
        catch { case e: Exception => Left(e) }
      val t1 = System.nanoTime()
      sc.setLocalProperty(SparkProbe.OpKey, null)
      trace.add("op", id, t0, t1, attrs = Map("query" -> PStr(name)))
      val fields: Map[String, PValue] = rows match {
        case Right(rs) => Map("query" -> PStr(name), "rows" -> PInt(rs.length.toLong),
          "digest" -> PStr(digest(rs)))
        case Left(e) => Map("query" -> PStr(name), "error" -> PStr(String.valueOf(e.getMessage)))
      }
      OpRecord(id, "query", trace.rel(t0), trace.rel(t1), rows.isRight, fields)
    }

    def ops(key: String): Seq[PObj] = plan.m(key).asSeq.map(_.asInstanceOf[PObj])
    Report.measure(trace, () => warm(ops("warmup"))(runOp),
      () => HostProbe.between(ops("ops"), ProbeEvery)(runOp))
  }

  /** Threads the warm-up runs on. A query's first run in a fresh JVM is
    * mostly one-off work (class loading, the JIT, whole-stage codegen)
    * that does not keep all cores busy; two queries at a time took about
    * 11 s less than one after the other over a warm-up pass. The window
    * runs one query at a time. */
  val WarmupThreads = 2

  private def warm(ops: Seq[PObj])(runOp: PObj => OpRecord): Seq[OpRecord] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[OpRecord]()
    val threads = (0 until WarmupThreads).map { t =>
      val mine = ops.zipWithIndex.collect { case (op, i) if i % WarmupThreads == t => op }
      new Thread(() => mine.foreach(op => out.add(runOp(op))), s"pipebench-warmup-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    scala.jdk.CollectionConverters.IteratorHasAsScala(out.iterator).asScala.toSeq
  }
}
