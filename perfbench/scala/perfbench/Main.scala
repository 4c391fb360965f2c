package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side; `perfbench/run.py` builds and launches it.
  *
  *   run <workload> <seed> <trace 0|1> <work dir> <result file> <trace dir>
  *   digest <workload> <seed> <work dir>
  */
object Main {
  /** Warm-up units run until Spark's counts repeat, within these. */
  val MinWarmup = 2
  val MaxWarmup = 4

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: w :: seed :: trace :: work :: result :: traceDir :: Nil =>
      run(w, seed.toLong, trace == "1", Paths.get(work), Paths.get(result),
        Paths.get(traceDir))
    case "digest" :: w :: seed :: work :: Nil =>
      println(digest(w, seed.toLong, Paths.get(work)))
    case _ =>
      System.err.println(s"usage: see ${getClass.getName} scaladoc")
      sys.exit(2)
  }

  /** Fails unless every `graft` class resolves from this build's own
    * output: a stale copy elsewhere on the classpath would time old code
    * on both sides of a comparison. */
  def checkClasspath(): Unit = {
    val want = Paths.get(sys.props("perfbench.program")).toRealPath()
    val roots = getClass.getClassLoader.getResources("graft").asScala.toSeq
      .map(u => Paths.get(u.toURI).getParent.toRealPath())
    require(roots == Seq(want),
      s"graft classes resolve from ${roots.mkString(", ")}, expected only $want")
    val from = Paths.get(graft.operators.Curate.getClass.getProtectionDomain
      .getCodeSource.getLocation.toURI).toRealPath()
    require(from == want, s"graft.operators.Curate loaded from $from, not $want")
  }

  /** Input digest and sizes of a seed, without Spark. */
  def digest(w: String, seed: Long, work: Path): String = w match {
    case "legis_etl" =>
      val in = LegisGen.generate(seed)
      val d = LegisGen.write(in, work.resolve("legiscan"))
      s"""{"digest":"$d","bills":${in.bills.size},"people":${in.people.size},""" +
        s""""pages":${in.pages.size},"budget_bills":${in.budgetBills.size}}"""
    case "curate_batch" =>
      val c = CorpusGen.generate(seed, CurateBatch.Docs, 0L, 1L)
      s"""{"digest":"${c.digest}","docs":${c.docs.size},"vecs":${c.vecs.size}}"""
    case "index_serve" =>
      val in = IndexServe.generate(seed)
      s"""{"digest":"${in.digest}","standing":${in.standing.docs.size},""" +
        s""""admitted":${in.incs.map(_.docs.size).sum},"deleted":${in.deletes.map(_.size).sum},""" +
        s""""probe_docs":${in.probes.map(_.docs.size).sum},"queries":${in.probes.map(_.queries.size).sum}}"""
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.spillDir", work.resolve("spill").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val start = System.nanoTime()
  /** Progress on stderr, which run.py keeps in the JVM log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%7.2fs $msg")

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(Double.NaN)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def cacheBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def run(w: String, seed: Long, trace: Boolean, work: Path, result: Path,
          traceDir: Path): Unit = {
    checkClasspath()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(work, cores)
    val wl: Workload = w match {
      case "legis_etl" => new LegisEtl(spark, work, seed)
      case "curate_batch" => new CurateBatch(spark, work, seed)
      case "index_serve" => new IndexServe(spark, work, seed)
    }
    val runId = s"$w-$seed-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(spark, runId)
    log(s"session up, $cores cores")

    // set-up; in a traced run the index builds are spans too
    tracer.on = trace
    val setupCounts = Listening(spark) { (counter, _) =>
      wl.setup(tracer); counter.snapshot() }
    tracer.on = false
    log("set-up done")

    // warm-up until the counts of two consecutive units agree
    var shapes = Vector.empty[(Long, Long)]
    while (shapes.size < MinWarmup ||
      (shapes.size < MaxWarmup && shapes(shapes.size - 1) != shapes(shapes.size - 2))) {
      shapes :+= Listening(spark) { (counter, _) =>
        wl.warmupUnit(shapes.size + 1); counter.total().shape }
      spark.catalog.clearCache()
      log(s"warm-up unit ${shapes.size}: (jobs, tasks) ${shapes.last}")
    }

    // the timed phase: no listener, no job groups
    val ops = new Ops
    val firstOpMs = System.currentTimeMillis()
    val gc0 = gcMs()
    wl.timedPhase(ops, tracer, "timed")
    val gcTimed = gcMs() - gc0
    log(s"timed phase done: ${ops.kindsJson}")
    spark.catalog.clearCache()

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var traced: Ops = null
    if (trace) {
      traced = new Ops
      var liveBytes = 0L
      traced.after = () => liveBytes = math.max(liveBytes, cacheBytes(spark))
      val gc1 = gcMs()
      val t0 = System.nanoTime()
      val (groups, planMs) = Listening(spark) { (counter, plans) =>
        tracer.on = true
        wl.timedPhase(traced, tracer, "traced")
        val wallMs = (System.nanoTime() - t0) / 1e6
        val g = counter.snapshot()
        layer("spark.core_util") = g.values.map(_.runMs).sum / (wallMs * cores)
        layer("jvm.gc_ms") = (gcMs() - gc1).toDouble
        spark.catalog.clearCache()
        wl.standalone(tracer)
        tracer.on = false
        (counter.snapshot(), plans.ms.get())
      }
      val all = groups ++ setupCounts.filter(_._1.contains('#'))
      layer("spark.plan_ms") = planMs.toDouble
      layer("spark.spill_bytes") = groups.values.map(_.spillBytes).sum.toDouble
      layer("spark.cache.live_bytes") = liveBytes.toDouble
      layer("trace.items_per_s") = wl.items / (traced.busyMs / 1000.0)
      layer("trace.overhead") =
        (wl.items / (ops.busyMs / 1000.0)) / layer("trace.items_per_s") - 1.0
      val spans = tracer.attribute(all)
      spans.get("operators.Curate.curateV8With").foreach { case (pass, _, calls) =>
        val kernels = Seq("operators.TextDedup.minhashPairs",
          "operators.TrainPrep.cdcStripAgainst", "operators.TextStats.qualityFeatures")
          .flatMap(spans.get).map(_._1.cpuNs).sum
        layer("curate.kernels_over_pass") = kernels / (pass.cpuNs.toDouble / calls)
      }
      spans.foreach { case (name, (c, wall, _)) =>
        layer(s"$name.wall_ms") = wall
        layer(s"$name.jobs") = c.jobs.toDouble
        layer(s"$name.tasks") = c.tasks.toDouble
        layer(s"$name.task_cpu_ms") = c.cpuNs / 1e6
        layer(s"$name.shuffle_bytes") = c.shuffleBytes.toDouble
      }
      Files.createDirectories(traceDir)
      Files.write(traceDir.resolve(s"$runId.spans.json"),
        tracer.toJson.getBytes(StandardCharsets.UTF_8))
    }

    if (trace) log("traced phase done")
    val failures = wl.verify()
    log(s"checks done, ${failures.size} failed")
    layer ++= wl.layer()
    val rss = peakRssMb()
    val attempted = ops.attempted + (if (traced == null) 0 else traced.attempted)
    val failed = ops.failed + (if (traced == null) 0 else traced.failed)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val json =
      s"""{"workload":"$w","seed":$seed,"trace":$trace,""" +
        s""""correct":${failures.isEmpty && failed == 0},""" +
        s""""attempted":$attempted,"failed":$failed,""" +
        s""""checks_failed":[${failures.map(f => "\"" + f.replace("\\", "\\\\")
          .replace("\"", "'") + "\"").mkString(",")}],""" +
        s""""first_op_epoch_ms":$firstOpMs,"warmup_units":${shapes.size},""" +
        s""""warmup_shapes":"${shapes.mkString(" ")}",""" +
        s""""items":${wl.items},"busy_ms":${ops.busyMs},""" +
        s""""items_per_s":${num(wl.items / (ops.busyMs / 1000.0))},""" +
        s""""op_p50_geomean_ms":${num(ops.p50Geomean)},"peak_rss_mb":${num(rss)},""" +
        s""""timed_gc_ms":$gcTimed,"kinds":${ops.kindsJson},""" +
        s""""per_layer":{${layer.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")}}}"""
    Files.write(result, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
