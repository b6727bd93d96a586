package pipebench

import graft.pipeline._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** bulk_pipeline: one client running `BulkRunner.run` with stage
  * checkpoints over a corpus staged as parquet at setup. Fresh ops run
  * the base spec from the start; resume ops run the spec with one middle
  * block's literal edited, so upstream stages hydrate from their
  * checkpoints and the edited stage and everything after it recompute. */
object BulkWorkload {

  def run(spark: SparkSession, plan: PObj, work: String, trace: Trace): Report = {
    import spark.implicits._
    val registry = BlockRegistry.standard()
    val corpusPath = s"$work/bulk/corpus"
    plan.m("corpus").asSeq.zipWithIndex.map { case (d, i) => (i, d.asString) }
      .toDF("idx", "value").write.mode("overwrite").parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    // The corpus enters as the initial stage "src", which is not a block;
    // a stand-in block lets the spec pass the parser's origin check and
    // is dropped again before the run.
    val PObj(specDoc) = plan.m("spec")
    val standIn = PObj(Map("id" -> PStr("wrap_text"), "slug" -> PStr("src"),
      "description" -> PStr("stand-in for the initial corpus stage")))
    val spec = PipelineSpec.parse(Json.render(PObj(specDoc.updated("blocks",
        PArr(standIn +: specDoc("blocks").asSeq)))), registry.ids)
      .fold(es => sys.error(es.mkString("; ")), s => s.copy(blocks = s.blocks.tail))
    val edited = plan.m("edited_block").asString
    val ckpt = s"$work/bulk/checkpoints"
    val fs = new Path(ckpt).getFileSystem(spark.sessionState.newHadoopConf())
    val sc = spark.sparkContext

    def successTimes(): Seq[Long] = spec.blocks.map { b =>
      val p = new Path(s"$ckpt/${spec.slug}/${b.slug}/_SUCCESS")
      if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else -1L
    }

    def runOp(op: PObj): OpRecord = {
      val id = op.m("id").asString
      val kind = op.m("kind").asString
      val resume = kind == "resume"
      val opSpec = if (!resume) spec else spec.copy(blocks = spec.blocks.map { b =>
        if (b.slug != edited) b
        else b.copy(input = b.input ++ op.m("edit").asInstanceOf[PObj].m)
      })
      val before = successTimes()
      sc.setLocalProperty(SparkProbe.OpKey, id)
      val t0 = System.nanoTime()
      val result = try {
        val stages = BulkRunner.run(opSpec, Map("src" -> corpus), BulkRunner.BulkConfig(
          spark, registry, Clients.mockCtx(), checkpointDir = Some(ckpt), resume = resume))
        val t1 = System.nanoTime()
        val rows = stages(spec.blocks.last.slug).collect()
        Right((t1, rows))
      } catch { case e: Exception => Left(e) }
      val t2 = System.nanoTime()
      sc.setLocalProperty(SparkProbe.OpKey, null)
      val hydrated = if (!resume) 0 else
        before.zip(successTimes()).count { case (b, a) => b >= 0 && a == b }
      trace.add("op", id, t0, t2)
      val fields: Map[String, PValue] = result match {
        case Right((t1, rows)) =>
          trace.add("bulkrunner.run", id, t0, t1)
          trace.add("bulkrunner.materialize", id, t1, t2)
          val values = rows.sortBy(_.getInt(0)).map(_.getAs[Array[Byte]](1))
          val md = java.security.MessageDigest.getInstance("SHA-256")
          values.foreach(md.update)
          Map("rows" -> PInt(values.length.toLong),
            "sha256" -> PStr(md.digest().map("%02x".format(_)).mkString),
            "stages_hydrated" -> PInt(hydrated.toLong),
            "stages_total" -> PInt(spec.blocks.size.toLong))
        case Left(e) => Map("error" -> PStr(String.valueOf(e.getMessage)))
      }
      OpRecord(id, kind, trace.rel(t0), trace.rel(t2), result.isRight, fields)
    }

    def ops(key: String): Seq[PObj] = plan.m(key).asSeq.map(_.asInstanceOf[PObj])
    Report.measure(trace, () => ops("warmup").map(runOp),
      () => HostProbe.between(ops("ops"), 1)(runOp))
  }
}
