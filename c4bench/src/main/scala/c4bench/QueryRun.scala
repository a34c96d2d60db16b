package c4bench

import scala.util.control.NonFatal

import org.apache.spark.C4benchBus
import org.apache.spark.sql.SparkSession

/** Runs a query workload: one untimed pass that writes every output for
  * the oracle check, then timed passes in a seeded order per pass. */
object QueryRun {
  final case class Sample(buildS: Double, execS: Double, sub: Map[String, Double],
                          error: Option[String])

  def message(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  /** Builds then executes `op`, labelling its jobs `<label>/build` and
    * `<label>/exec`. */
  def runOp(spark: SparkSession, op: Op, data: String, label: String,
            checkDir: Option[String], tracer: Option[Tracer]): Sample = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    var t1 = t0; var m1 = m0
    try {
      sc.setLocalProperty(Tracer.PhaseKey, s"$label/build")
      val exec = op.build(spark, data)
      t1 = System.nanoTime(); m1 = System.currentTimeMillis()
      sc.setLocalProperty(Tracer.PhaseKey, s"$label/exec")
      val sub = exec(checkDir)
      val t2 = System.nanoTime()
      tracer.foreach { t =>
        t.window(s"$label/build", m0, m1)
        t.window(s"$label/exec", m1, System.currentTimeMillis())
      }
      Sample((t1 - t0) / 1e9, (t2 - t1) / 1e9, sub, None)
    } catch {
      case NonFatal(e) =>
        Sample((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, Map.empty, Some(message(e)))
    } finally sc.setLocalProperty(Tracer.PhaseKey, null)
  }

  def run(spark: SparkSession, args: Main.Args, ops: Seq[Op], tracer: Option[Tracer],
          report: Report): Unit = {
    val checkDir = s"${args.tmp}/check"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(checkDir))
    ops.foreach { op =>
      val s = runOp(spark, op, args.data, s"check/${op.name}", Some(checkDir), None)
      report.checks += Map("op" -> op.name, "build_s" -> s.buildS, "exec_s" -> s.execS,
        "error" -> s.error)
    }
    report.env("check_dir") = checkDir
    val cores = spark.sparkContext.defaultParallelism
    Main.startTimed(report)
    Main.passes(args.seconds, if (tracer.isDefined) 2 else 1) { p =>
      val traced = tracer.filter(_ => p % 2 == 1)
      traced.foreach(spark.sparkContext.addSparkListener)
      System.gc()
      val order = new scala.util.Random(args.seed * 1000003L + p).shuffle(ops)
      val gc0 = Main.gcSeconds()
      val w0 = System.nanoTime()
      val samples = order.map { op =>
        val s = runOp(spark, op, args.data, s"$p/${op.name}", None, traced)
        report.ops += Map("pass" -> p, "traced" -> traced.isDefined, "op" -> op.name,
          "build_s" -> s.buildS, "exec_s" -> s.execS, "sub" -> s.sub, "error" -> s.error)
        op.name -> s
      }.toMap
      val wall = (System.nanoTime() - w0) / 1e9
      val gcS = Main.gcSeconds() - gc0
      report.passes += Map("pass" -> p, "traced" -> traced.isDefined, "wall_s" -> wall)
      traced.foreach { t =>
        C4benchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
        def jobs(op: String) = t.sum(_ == s"$p/$op/build").jobs.toDouble
        val perOp = args.workload match {
          case "pivot_finish" =>
            Workloads.pivotFamilies.groupBy(_._2).toSeq.flatMap { case (fam, qs) =>
              val ss = qs.keys.toSeq.flatMap(samples.get)
              Seq(s"$fam.build_s" -> ss.map(_.buildS).sum,
                s"$fam.exec_s" -> ss.map(_.execS).sum,
                s"$fam.build_jobs" -> qs.keys.toSeq.map(jobs).sum)
            } ++ samples.get("render").toSeq.flatMap(_.sub)
          case _ => samples.toSeq.flatMap { case (q, s) =>
            Seq(s"$q.build_s" -> s.buildS, s"$q.exec_s" -> s.execS, s"$q.build_jobs" -> jobs(q))
          }
        }
        report.layers += (Main.phaseLayers(t, p, samples.values.map(_.buildS).sum,
          samples.values.map(_.execS).sum, cores) ++ perOp ++
          Seq("jvm.gc_s" -> gcS, "trace.unlabeled_jobs" -> t.unlabeledJobs.toDouble)).toMap
      }
    }
    for (t <- tracer; q <- Workloads.probes(args.workload)) {
      spark.sparkContext.addSparkListener(t)
      val s = runOp(spark, QueryOp(q), args.data, s"probe/$q", Some(checkDir), Some(t))
      C4benchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
      report.checks += Map("op" -> q, "build_s" -> s.buildS, "exec_s" -> s.execS,
        "error" -> s.error)
      report.layersOnce ++= Seq(s"$q.build_s" -> s.buildS, s"$q.exec_s" -> s.execS,
        s"$q.build_jobs" -> t.sum(_ == s"probe/$q/build").jobs.toDouble)
    }
    // read after every query ran: some oracles are derived from what the
    // query just trained
    val names = report.checks.map(_("op")).toSet
    report.oracleSql = graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }
  }
}
