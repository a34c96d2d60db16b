package c4bench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.C4benchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Streaming

/** The streaming ingest workload: `Streaming.dedupIncremental` over a file
  * source against a copy of the generated `documents` table as history.
  * Each pass lands one seeded arrival file per batch, then runs the query
  * with the `AvailableNow` trigger and one file per trigger, so every
  * micro-batch takes exactly one arrival batch. The sink appends each
  * batch's fresh rows to the history, one directory per batch, so the
  * fresh ids of every batch can be checked afterwards.
  *
  * A pass is one epoch: ten batches, one of which rebuilds the history
  * filter. Set-up runs three batches, so timed passes start mid-epoch.
  * A batch's latency is the time from the end of the previous batch (or
  * the query's start) to the end of its sink call. */
object Ingest {
  val PerBatch = 50
  val EpochBatches = 10
  val WarmBatches = 3

  def run(spark: SparkSession, args: Main.Args, tracer: Option[Tracer],
          report: Report): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val root = s"${args.tmp}/ingest"
    val (hist, arrivals) = (s"$root/hist", s"$root/arrivals")
    val docs = spark.read.parquet(s"${args.data}/documents.parquet").select("doc_id", "text")
    docs.write.parquet(s"$hist/batch=-1")
    val gen = new Arrivals(docs.select("text").as[String].collect().toSeq, args.seed, PerBatch)
    Files.createDirectories(Paths.get(arrivals))
    @volatile var k = 0 // the batch the sink is on; batches run in file order
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val writer = Streaming.dedupIncremental(
      spark.readStream.schema("doc_id LONG, text STRING").option("maxFilesPerTrigger", "1")
        .json(arrivals),
      () => spark.read.parquet(hist), "doc_id", "text",
      onFresh = (fresh, _) => {
        val t = System.nanoTime()
        fresh.select("doc_id", "text").write.mode("append").parquet(s"$hist/batch=$k")
        val end = System.nanoTime()
        ends.add((end, (end - t) / 1e9))
        k += 1
      },
      trigger = Trigger.AvailableNow()
    ).option("checkpointLocation", s"$root/checkpoint")
    val expected = scala.collection.mutable.LinkedHashMap.empty[Int, Set[Long]]

    /** Lands `n` arrival files and runs the query over them: one sample per
      * batch, with the batch's position in the stream. */
    def batches(n: Int, label: String, traced: Option[Tracer]): Seq[(Int, QueryRun.Sample)] = {
      val first = expected.size
      (first until first + n).foreach { b =>
        val batch = gen.next()
        expected(b) = batch.fresh
        val staged = Paths.get(s"$root/staged.json")
        Files.write(staged, batch.rows.map { case (id, text) =>
          s"""{"doc_id":$id,"text":"$text"}""" }.asJava)
        // distinct modification times keep the source's file order
        Files.setLastModifiedTime(staged, FileTime.fromMillis(1000000000000L + b * 1000L))
        Files.move(staged, Paths.get(f"$arrivals/b$b%05d.json"), StandardCopyOption.ATOMIC_MOVE)
      }
      ends.clear()
      sc.setLocalProperty(Tracer.PhaseKey, s"$label/exec")
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val error = try {
        val q = writer.start()
        q.awaitTermination()
        q.exception.map(e => QueryRun.message(e))
      } catch { case NonFatal(e) => Some(QueryRun.message(e)) }
      finally sc.setLocalProperty(Tracer.PhaseKey, null)
      traced.foreach(_.window(s"$label/exec", m0, System.currentTimeMillis()))
      val done = ends.asScala.toVector
      val starts = t0 +: done.map(_._1)
      (0 until n).map { i =>
        val s = done.lift(i) match {
          case Some((end, sink)) if error.isEmpty =>
            QueryRun.Sample(0.0, (end - starts(i)) / 1e9, Map("streaming.sink_s" -> sink), None)
          case _ => QueryRun.Sample(0.0, 0.0, Map("streaming.sink_s" -> 0.0),
            Some(error.getOrElse(s"batch ${first + i} did not reach the sink")))
        }
        (first + i, s)
      }
    }

    batches(WarmBatches, "warm", None)
    val progress = new Tracer.StreamProgress
    val cores = sc.defaultParallelism
    Main.startTimed(report)
    Main.passes(args.seconds, if (tracer.isDefined) 2 else 1) { p =>
      val traced = tracer.filter(_ => p % 2 == 1)
      traced.foreach { t => sc.addSparkListener(t); spark.streams.addListener(progress) }
      progress.reports.clear()
      System.gc()
      val gc0 = Main.gcSeconds()
      val w0 = System.nanoTime()
      val samples = batches(EpochBatches, s"$p", traced).zipWithIndex.map {
        case ((b, s), i) =>
          report.ops += Map("pass" -> p, "traced" -> traced.isDefined, "op" -> s"b$i",
            "build_s" -> s.buildS, "exec_s" -> s.execS, "sub" -> s.sub, "error" -> s.error)
          (b % EpochBatches == 0, s)
      }
      val wall = (System.nanoTime() - w0) / 1e9
      val gcS = Main.gcSeconds() - gc0
      report.passes += Map("pass" -> p, "traced" -> traced.isDefined, "wall_s" -> wall)
      traced.foreach { t =>
        C4benchBus.drain(sc)
        sc.removeSparkListener(t)
        spark.streams.removeListener(progress)
        val reports = progress.reports.asScala.toSeq
        def med(xs: Seq[Double]) =
          if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)
        def dur(key: String) = med(reports.map(_.durations.getOrElse(key, 0.0)))
        report.layers += (Main.phaseLayers(t, p, 0.0, samples.map(_._2.execS).sum, cores) ++ Seq(
          "streaming.trigger_s" -> dur("triggerExecution"),
          "streaming.add_batch_s" -> dur("addBatch"),
          "streaming.planning_s" -> dur("queryPlanning"),
          "streaming.get_batch_s" -> dur("getBatch"),
          "streaming.wal_s" -> dur("walCommit"),
          "streaming.sink_s" -> med(samples.map(_._2.sub("streaming.sink_s"))),
          "streaming.refresh_batch_s" -> med(samples.filter(_._1).map(_._2.execS)),
          "streaming.steady_batch_s" -> med(samples.filterNot(_._1).map(_._2.execS)),
          "streaming.docs_per_s" -> EpochBatches * PerBatch / wall,
          "jvm.gc_s" -> gcS,
          "trace.unlabeled_jobs" -> t.unlabeledJobs.toDouble)).toMap
      }
    }

    // the check, outside the timed passes: each batch's fresh ids, as the
    // sink appended them, against the generator's by-construction set
    val got = spark.read.parquet(hist).where($"batch" >= 0)
      .groupBy("batch").agg(collect_set($"doc_id")).as[(Int, Seq[Long])]
      .collect().map { case (b, ids) => b -> ids.toSet }.toMap
    expected.foreach { case (b, want) =>
      val have = got.getOrElse(b, Set.empty[Long])
      report.checks += Map("op" -> s"batch$b", "error" -> (if (have == want) None else
        Some(s"fresh ids differ: missing ${(want -- have).toSeq.sorted.take(5)}, " +
          s"extra ${(have -- want).toSeq.sorted.take(5)}")))
    }
  }
}
