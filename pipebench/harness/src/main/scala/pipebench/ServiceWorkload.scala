package pipebench

import graft.pipeline._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.SparkSession
import scala.concurrent.ExecutionContext

/** pipeline_service: closed-loop clients over loopback HTTP against
  * `PipelineService`. Each client sends a start or resume, waits until
  * the run's status document lands, confirms the outcome with one
  * details call, and only then sends its next op. */
object ServiceWorkload {
  /** Ops per client between two host probes. */
  val ProbeEvery = 7

  /** The deterministic mock chat model. A prompt `list:<title>:<a,b,..>`
    * answers with that title and item list as JSON; any other prompt is
    * echoed back behind `re:`. */
  def chat(system: String, user: String): String =
    if (user.startsWith("list:")) {
      val Array(title, items) = user.stripPrefix("list:").split(":", 2)
      Json.render(PObj(Map("title" -> PStr(title),
        "items" -> PArr(items.split(",").toSeq.map(PStr(_))))))
    } else "re:" + user

  private def path(op: BlockOp): String = op match {
    case _: ExprBlockOp => "expr"
    case _ if op.mode == Distributed => "distributed"
    case _ => "driver"
  }

  def run(spark: SparkSession, plan: PObj, work: String, trace: Trace): Report = {
    val registry = BlockRegistry.standard()
    val llm = new Clients.MockLLMClient()
    llm.chatResponder = Some(chat _)
    val ctx = Clients.mockCtx().copy(llm = llm)
    val specs = plan.m("specs").asSeq.map(s =>
      PipelineSpec.parse(Json.render(s), registry.ids)
        .fold(es => sys.error(es.mkString("; ")), identity))
    val blockPath: Map[(String, String), String] = specs.flatMap(s =>
      s.blocks.map(b => (s.slug, b.slug) -> path(registry(b.id)))).toMap
    val landing = new Landing
    val store = new TimedCheckpointStore(s"$work/checkpoints", trace, landing,
      plan.m("watch").asSeq.map(_.asString).toSet)
    val conf = Runner.RunConfig(spark, registry, store, ctx)
    val ec: ExecutionContext =
      if (trace.enabled) new AdmissionContext(ExecutionContext.global, trace, spark.sparkContext)
      else ExecutionContext.global
    val service = new PipelineService(specs, conf)(ec)
    val port = service.start()
    val base = s"http://127.0.0.1:$port"
    val timeoutMs = plan.m("timeout_ms").asLong

    def runOp(http: HttpClient, op: PObj): OpRecord = {
      def s(k: String) = op.m.get(k).map(_.asString).getOrElse("")
      val (id, kind, slug, pid) = (s("id"), s("kind"), s("spec"), s("pid"))
      val body = Json.render(PObj(Map(
        "block" -> PObj(Map("slug" -> PStr(s("from")),
          "input" -> op.m.getOrElse("input", PObj(Map.empty)))),
        "pipeline" -> PObj(Map("processing_id" -> PStr(pid))))))
      landing.expect(pid)
      val t0 = System.nanoTime()
      val resp = http.send(HttpRequest.newBuilder(URI.create(s"$base/pipelines/$slug/$kind"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val t1 = System.nanoTime()
      val landed = if (resp.statusCode == 200) landing.await(pid, timeoutMs) else None
      val end = landed.getOrElse(System.nanoTime())
      val d0 = System.nanoTime()
      val details = http.send(HttpRequest.newBuilder(
          URI.create(s"$base/pipelines/$slug/processings/$pid")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val d1 = System.nanoTime()
      val doc = Json.tryParse(details.body).getOrElse(PObj(Map.empty))
      def field(v: PValue, k: String): PValue = v match {
        case PObj(m) => m.getOrElse(k, PNull)
        case _ => PNull
      }
      val completed = field(field(doc, "status"), "is_completed") == PBool(true)
      val ledger = field(doc, "ledger").asSeq
      trace.add("op", id, t0, end, attrs = Map("pid" -> PStr(pid)))
      trace.add("api.start_rtt", id, t0, t1)
      trace.add("api.details_rtt", id, d0, d1)
      ledger.groupBy(e => field(e, "block").asString).foreach { case (block, es) =>
        blockPath.get((slug, block)).foreach { p =>
          trace.add(s"blocks.$p", id,
            trace.fromWallMs(es.map(e => field(e, "started_ms").asLong).min),
            trace.fromWallMs(es.map(e => field(e, "finished_ms").asLong).max),
            attrs = Map("block" -> PStr(block)))
        }
      }
      val output = store.take(pid, s("final")).flatMap(_.headOption)
        .map(r => new String(r._2, "UTF-8")).getOrElse("")
      val images = Option(s("images")).filter(_.nonEmpty)
        .flatMap(store.take(pid, _)).getOrElse(Nil).map { case (_, b) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
          if (img == null) "undecodable" else s"${img.getWidth}x${img.getHeight}"
        }
      OpRecord(id, kind, trace.rel(t0), trace.rel(end),
        resp.statusCode == 200 && landed.isDefined && details.statusCode == 200 && completed,
        Map(
          "pid" -> PStr(pid),
          "output" -> PStr(output),
          "ledger_first" -> PStr(ledger.headOption.map(e => field(e, "block").asString).getOrElse("")),
          "images" -> PArr(images.map(PStr(_))),
          "details_end" -> PInt(trace.rel(d1))))
    }

    def clients(key: String): Seq[Seq[PObj]] =
      plan.m(key).asSeq.map(_.asSeq.map(_.asInstanceOf[PObj]))

    /** Run one op list per client, each on its own thread and HTTP
      * client. With `probed`, they run in rounds of `ProbeEvery` ops per
      * client, and a host probe runs before each round, when no op is in
      * flight. */
    def drive(lists: Seq[Seq[PObj]], probed: Boolean): Seq[OpRecord] = {
      val https = lists.map(_ => HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())
      val rounds = lists.map(_.grouped(if (probed) ProbeEvery else Int.MaxValue).toSeq)
      (0 until rounds.map(_.size).max).flatMap { i =>
        if (probed) HostProbe.take()
        val out = new java.util.concurrent.ConcurrentLinkedQueue[OpRecord]()
        val threads = rounds.zipWithIndex.map { case (chunks, c) =>
          val t = new Thread(() => chunks.lift(i).getOrElse(Nil).foreach(op =>
            out.add(runOp(https(c), op))), s"pipebench-client-$c")
          t.start(); t
        }
        threads.foreach(_.join())
        scala.jdk.CollectionConverters.IteratorHasAsScala(out.iterator).asScala.toSeq
      }
    }

    try Report.measure(trace, () => drive(clients("warmup"), probed = false),
      () => drive(clients("clients"), probed = true))
    finally service.stop()
  }
}
