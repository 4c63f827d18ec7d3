package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** One benchmark JVM. run.py launches it in one of two modes:
  *  - `run`: set up, then a cold pass and warm passes over the workload's
  *    keys in seeded order, and an untimed output check;
  *  - `record`: run every workload key once and write its row count and
  *    fingerprint (run.py merges two of these into the expected file).
  * Results go to `--out` as JSON; run.py prints the final line. */
object Main {
  final case class Args(mode: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, work: String, cpus: Int, expected: String,
      launchMs: Double, out: String)

  private val KeyTimeoutSec = 45L
  private val MB = 1e6

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("mode"), m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1", get("data"),
      get("work"), get("cpus").toInt, m.getOrElse("expected", ""),
      m.get("launch-ms").map(_.toDouble).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
      get("out"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // exit even if a worker thread of an abandoned (timed-out) key lingers
    sys.exit(code)
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "50000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Engine warm-up on throwaway data, never the benchmark tables: a parquet
    * round trip, an aggregation, a join, one custom function and a small
    * stateful stream over typed rows, so the first timed key does not pay
    * for Spark's own class loading, first code generation, encoder
    * derivation and streaming start-up. Without the stream, whichever
    * stream key ran first paid that start-up on top of the first key's
    * share, and a run that began with one read 3–4 s high. What the
    * engine's ops load on first use (JSON, their own kernels) is left to
    * the cold pass. */
  def warmUp(spark: SparkSession, work: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val tmp = s"$work/warmup"
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"),
        col("id").cast("double").as("v"))
      .write.mode("overwrite").parquet(tmp)
    val w = spark.read.parquet(tmp)
    w.filter(col("k") > 2).groupBy(col("k")).agg(sum(col("v"))).count()
    w.join(w.select(col("k").as("k2")).distinct(), col("k") === col("k2")).count()
    thrivespark.functions.Register(spark)
    val fv = array(col("v"), col("v")).cast("array<float>")
    w.select(call_function("vec_dot", fv, fv)).count()
    val q = spark.readStream.schema(w.schema).parquet(tmp)
      .select(col("k"), col("v")).as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[(Long, Double)], st: GroupState[Long]) =>
          st.update(st.getOption.getOrElse(0L) + rows.size)
          (k, st.get)
      }
      .writeStream.outputMode("update").format("memory").queryName("perfbench_warmup")
      .option("checkpointLocation", s"$work/warmup_cp").start()
    q.processAllAvailable()
    q.stop()
  }

  /** Pinned CPU probe (graft.Bench's): fixed work, independent of the
    * benchmark data, so a run on a contended box labels itself. Best of two,
    * so a one-off JIT or GC pause does not count as contention. */
  def cpuProbe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(8L * 1000 * 1000)
        .select((col("id") % 9973).as("k"), (col("id") * 2654435761L).as("v"))
        .groupBy(col("k")).agg(sum(col("v")), avg(col("v")))
        .count()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** write_bytes of this JVM so far: bytes it caused to be sent to storage. */
  def writeBytes(): Long = {
    val io = Paths.get("/proc/self/io")
    if (!Files.isReadable(io)) 0L
    else scala.io.Source.fromFile(io.toFile).getLines()
      .collectFirst { case l if l.startsWith("write_bytes:") => l.split(":")(1).trim.toLong }
      .getOrElse(0L)
  }

  def storageMb(spark: SparkSession, ids: Int => Boolean = _ => true): Double =
    spark.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
      .map(i => i.memSize + i.diskSize).sum / MB

  /** One timed execution of a key: the registry call and the noop-sink write
    * (what graft.Bench times), under QueryGuard so a hang is a failure. */
  final case class KeyRun(s0: Double, b0: Double, b1: Double, s1: Double,
      error: Option[String], df: Option[DataFrame]) {
    def wallS: Double = (s1 - s0) / 1000
  }

  def runKey(spark: SparkSession, key: String, data: String): KeyRun = {
    val fn = thrivespark.Registry.queries(key)
    val s0 = Clock.nowMs
    val r = graft.QueryGuard.timed(spark, key, KeyTimeoutSec) {
      val b0 = Clock.nowMs
      val df = fn(spark, data)
      val b1 = Clock.nowMs
      df.write.mode("overwrite").format("noop").save()
      (df, b0, b1)
    }
    val s1 = Clock.nowMs
    r match {
      case Right((df, b0, b1)) => KeyRun(s0, b0, b1, s1, None, Some(df))
      case Left(reason) => KeyRun(s0, s0, s0, s1, Some(reason), None)
    }
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes("UTF-8"))

  def run(a: Args): Int = {
    def log(what: String): Unit =
      System.err.println(f"[perfbench] ${(Clock.nowMs - a.launchMs) / 1000}%.3f s: $what")
    Files.createDirectories(Paths.get(a.work))
    val (spark, setupPhases) = setUp(a)
    log("set up")
    val code = try a.mode match {
      case "record" =>
        val keys = Workloads.keys.values.flatten.toSeq.distinct
        val miss = Workloads.missing(keys, thrivespark.Registry.queries.keySet)
        if (miss.nonEmpty) { System.err.println(s"unknown keys: ${miss.mkString(", ")}"); 2 }
        else {
          val rec = Workloads.order(keys, a.seed).map { k =>
            val r = runKey(spark, k, a.data)
            val fp = r.df.map(Fingerprint.of)
            k -> Json.obj("rows" -> fp.map(_.rows), "fp" -> fp.map(_.hash), "error" -> r.error)
          }
          write(a.out, Json.write(Json.obj(rec: _*)))
          0
        }
      case "run" =>
        measure(spark, a) match {
          case Left(code) => code
          case Right(result) =>
            log("measured")
            write(a.out, Json.write(Json.obj("setup" -> Json.obj(setupPhases: _*),
              "result" -> result)))
            0
        }
      case other => System.err.println(s"unknown mode $other"); 2
    } finally spark.stop()
    code
  }

  /** JVM launch until the session is ready, the warm-up is done and the
    * registry is loaded. Returns the session and the seconds each step
    * ended at, counted from launch; `setup_s` is the last of them. */
  def setUp(a: Args): (SparkSession, Seq[(String, Double)]) = {
    def at() = (Clock.nowMs - a.launchMs) / 1000
    val jvm = at()
    val spark = session(a)
    val ready = at()
    warmUp(spark, a.work)
    val warm = at()
    thrivespark.Registry.queries
    (spark, Seq("jvm" -> jvm, "session" -> ready, "warmup" -> warm, "registry" -> at()))
  }

  def measure(spark: SparkSession, a: Args): Either[Int, Map[String, Any]] = {
    val keys = Workloads.keys.getOrElse(a.workload, Nil)
    val miss = Workloads.missing(keys, thrivespark.Registry.queries.keySet)
    if (keys.isEmpty || miss.nonEmpty) {
      System.err.println(s"workload '${a.workload}': unknown, or keys missing from " +
        s"the registry: ${miss.mkString(", ")}")
      return Left(2)
    }
    val expected = loadExpected(a.expected)
    val cpuPre = cpuProbe(spark)
    val order = Workloads.order(keys, a.seed)
    val tracer = new Tracer
    val probe = if (a.trace) Some(new LayerProbe(spark)) else None
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val CG = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val runStart = Clock.nowMs
    val runId = tracer.newId()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val skews = scala.collection.mutable.Map.empty[String, Seq[Double]]

    /** One pass over the keys not yet failed; traced passes also return each
      * key's layer counters. */
    def pass(name: String, traced: Boolean): (Map[String, KeyRun], Map[String, Map[String, Double]], Double) = {
      val p0 = Clock.nowMs
      if (traced) probe.foreach(_.attach())
      val passId = tracer.newId()
      val layers = scala.collection.mutable.Map.empty[String, Map[String, Double]]
      val passSkews = scala.collection.mutable.ArrayBuffer.empty[Double]
      val runs = order.filterNot(failed.contains).map { k =>
        val before = if (traced) {
          probe.foreach(_.begin())
          Some((codegen.getCount, CG.compileTime, spark.sparkContext.getPersistentRDDs.keySet.toSet))
        } else None
        val r = runKey(spark, k, a.data)
        r.error.foreach(e => failed(k) = s"$name pass: $e")
        val keyId = tracer.add(passId, "key", k, name, r.s0, r.s1)
        val own = Seq((keyId, r.s0, r.s1),
          (tracer.add(keyId, "ops.build", k, name, r.b0, r.b1), r.b0, r.b1),
          (tracer.add(keyId, "exec", k, name, r.b1, r.s1), r.b1, r.s1))
        for (p <- probe if traced; (cgN, cgT, rdds0) <- before) {
          val l = p.end()
          val fresh = spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds0
          l.c("codegen.compiles") = (codegen.getCount - cgN).toDouble
          l.c("codegen.compile_s") = (CG.compileTime - cgT) / 1e9
          l.c("shared.builds") = fresh.size.toDouble
          l.c("shared.build_s") = if (fresh.nonEmpty) r.wallS else 0.0
          l.c("shared.cached_mb") = storageMb(spark, fresh)
          layers(k) = Layers.finish(l, a.cpus, r.s0, r.b0, r.b1, r.s1)
          passSkews ++= l.stages.filter(_._4.size > 1).map(s => Stats.skew(s._4))
          Layers.spans(tracer, l, k, name, own)
        }
        k -> r
      }.toMap
      if (traced) probe.foreach(_.detach())
      skews(name) = passSkews.toSeq
      val p1 = Clock.nowMs
      tracer.record(Span(passId, runId, "pass", "", name, p0, p1))
      (runs, layers.toMap, (p1 - p0) / 1000)
    }

    val w0 = writeBytes()
    val (cold, coldLayers, coldPassS) = pass("cold", traced = a.trace)
    val coldWritten = (writeBytes() - w0) / MB
    val cachedMb = storageMb(spark)
    // Warm passes until the run's measuring time is used, at least two. The
    // first warm pass is often not yet fully warm, so every warm figure is
    // taken from the passes after it. The traced run makes at least three,
    // untraced and traced in turn, so the difference is the tracing overhead.
    final case class WarmPass(name: String, traced: Boolean, runs: Map[String, KeyRun],
        layers: Map[String, Map[String, Double]], writtenMb: Double)
    val warm = scala.collection.mutable.ArrayBuffer.empty[WarmPass]
    var lastS = coldPassS
    while (warm.size < (if (a.trace) 3 else 2) ||
        (warm.size < 8 && (Clock.nowMs - runStart) / 1000 + lastS <= a.seconds)) {
      val traced = a.trace && warm.size % 2 == 1
      val wb = writeBytes()
      val name = s"warm${warm.size + 1}"
      val (runs, layers, s) = pass(name, traced)
      warm += WarmPass(name, traced, runs, layers, (writeBytes() - wb) / MB)
      lastS = s
    }
    val timedS = (Clock.nowMs - runStart) / 1000
    val cpuPost = cpuProbe(spark)

    val settled = warm.drop(1).toSeq
    def warmTimes(traced: Boolean): Map[String, Seq[Double]] =
      order.map(k => k -> settled.filter(_.traced == traced).flatMap(_.runs.get(k))
        .filter(_.error.isEmpty).map(_.wallS)).toMap
    val coldS = order.flatMap(cold.get).map(_.wallS).sum
    val warmS = Stats.warmSum(warmTimes(traced = false))
    val writtenMb = coldWritten + Stats.median(settled.filterNot(_.traced).map(_.writtenMb))

    // untimed output check, on each key's DataFrame from its last pass
    val lastDf = order.flatMap(k => (warm.reverseIterator.map(_.runs) ++ Iterator(cold))
      .flatMap(_.get(k)).find(_.df.isDefined).flatMap(_.df).map(k -> _)).toMap
    val check0 = Clock.nowMs
    val checked = order.filterNot(failed.contains).map { k =>
      val got = graft.QueryGuard.timed(spark, s"check_$k", KeyTimeoutSec)(Fingerprint.of(lastDf(k)))
      val why = (got, expected.get(k)) match {
        case (Left(e), _) => Some(s"check: $e")
        case (_, None) => Some("no expected entry")
        case (Right(fp), Some((exp, rowsOnly))) => Fingerprint.mismatch(exp, fp, rowsOnly)
      }
      why.foreach(failed(k) = _)
      k -> got.toOption
    }.toMap

    val checkS = (Clock.nowMs - check0) / 1000
    val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "cold_s" -> (coldS, "s"),
      "warm_s" -> (warmS, "s"),
      "fail_ratio" -> (failed.size.toDouble / keys.size, "ratio"),
      "cached_mb" -> (cachedMb, "MB"),
      "written_mb" -> (writtenMb, "MB"))
    val layerMetrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    if (a.trace) {
      def unit(n: String) =
        if (n.endsWith("_s")) "s" else if (n.endsWith("mb")) "MB"
        else if (n == "exec.skew" || n == "sink.write_amp") "ratio" else "count"
      val coldSum = Layers.summarize(order.flatMap(coldLayers.get).map(Seq(_)), skews("cold"))
      val tracedWarm = settled.filter(_.traced)
      val warmSumL = Layers.summarize(
        order.map(k => tracedWarm.flatMap(_.layers.get(k))).filter(_.nonEmpty),
        tracedWarm.flatMap(w => skews(w.name)))
      (Layers.additive ++ Layers.maxima ++ Seq("exec.skew", "sink.write_amp")).foreach { n =>
        layerMetrics(n) = (coldSum(n), unit(n))
        layerMetrics(s"$n.warm") = (warmSumL(n), unit(n))
      }
      // self time per span kind: the cold pass, and the mean traced warm pass
      val selfCold = Trace.selfByName(tracer.spans.filter(_.pass == "cold"))
      val warmNames = tracedWarm.map(_.name).toSet
      val selfWarm = Trace.selfByName(tracer.spans.filter(s => warmNames(s.pass)))
      Layers.spanNames.foreach { n =>
        layerMetrics(s"self.$n.cold_s") = (selfCold.getOrElse(n, 0.0), "s")
        layerMetrics(s"self.$n.warm_s") = (selfWarm.getOrElse(n, 0.0) / tracedWarm.size, "s")
      }
      val tracedWarmS = Stats.warmSum(warmTimes(traced = true))
      layerMetrics("first_touch_s") = (coldS - tracedWarmS, "s")
      layerMetrics("trace.warm_s") = (tracedWarmS, "s")
      layerMetrics("trace.untraced_warm_s") = (warmS, "s")
      def best(traced: Boolean) = warmTimes(traced).values.filter(_.nonEmpty).map(_.min).sum
      layerMetrics("trace.overhead_s") = (best(traced = true) - best(traced = false), "s")
      Kernels.probe(spark, a.seed).foreach { r =>
        layerMetrics(s"kernel.${r.name}_ns") = (r.nsPerUnit, "ns")
        layerMetrics(s"kernel.${r.name}_units") = (r.units.toDouble, "count")
      }
    }
    layerMetrics("host.cpu_probe_pre_s") = (cpuPre, "s")
    layerMetrics("host.cpu_probe_post_s") = (cpuPost, "s")

    tracer.record(Span(runId, 0, "run", "", "", runStart, Clock.nowMs))
    val spansPath = Paths.get(a.work, "spans.jsonl")
    tracer.write(spansPath)
    def m(kv: collection.Map[String, (Double, String)]) =
      kv.map { case (n, (v, u)) => n -> Json.obj("value" -> v, "unit" -> u) }
    val perKey = order.map { k =>
      k -> Json.obj(
        "cold_s" -> cold.get(k).map(_.wallS),
        "cold_build_s" -> cold.get(k).map(r => (r.b1 - r.b0) / 1000),
        "warm_s" -> settled.filterNot(_.traced).flatMap(_.runs.get(k)).map(_.wallS).toList,
        "rows" -> checked.get(k).flatten.map(_.rows),
        "fp" -> checked.get(k).flatten.map(_.hash),
        "error" -> failed.get(k),
        "layers_cold" -> coldLayers.get(k),
        "layers_warm" -> Some(settled.filter(_.traced).flatMap(_.layers.get(k)))
          .filter(_.nonEmpty).map(ls => Layers.summarize(Seq(ls), Nil)))
    }
    Right(Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "order" -> order.toList, "timed_s" -> timedS, "check_s" -> checkS,
      "warm_passes" -> warm.size,
      "attempted" -> keys.size, "failed" -> failed.toMap,
      "metrics" -> m(metrics), "layers" -> m(layerMetrics),
      "spans" -> spansPath.toString, "keys" -> Json.obj(perKey: _*)))
  }

  /** key → (expected fingerprint, checked by rows only). */
  def loadExpected(path: String): Map[String, (Fingerprint, Boolean)] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val keys = Json.read(new String(Files.readAllBytes(Paths.get(path)), "UTF-8")).get("keys")
      keys.properties().asScala.map { e =>
        val n = e.getValue
        e.getKey -> (Fingerprint(n.get("rows").asLong, n.get("fp").asText),
          Option(n.get("rows_only")).exists(!_.isNull))
      }.toMap
    }
}
