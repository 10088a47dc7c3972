package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      out: String, data: String, golden: String,
                      allQueries: Boolean, stamp: Map[String, String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workload.Names.contains(w), s"--workload must be one of ${Workload.Names.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("out"), kv.getOrElse("data", ""), kv.getOrElse("golden", ""),
      kv.get("suite-queries").contains("all"),
      kv.collect { case (k, v) if k.startsWith("stamp-") => k.stripPrefix("stamp-") -> v })
  }
}

/** The benchmark's JVM: one workload, one closed-loop caller.
  *
  * Set-up (session, inputs, warm-up passes over the full input) is timed
  * from JVM start, then passes run until `--seconds` is spent and the
  * workload's fewest timed passes are done, each public call issued after
  * the previous one returns. With `--trace 1` untraced and traced passes
  * come in pairs; the traced passes give
  * the per-layer numbers, and the pairs' wall difference the tracing
  * overhead. Answer checks run after the timers. The last line of stdout
  * is the result.
  */
object Main {

  private def now(): Double = System.nanoTime() / 1e9

  private type Digested = (Pass, Map[String, String])

  /** Whole untraced passes until they have spent `seconds` of wall time
    * and number at least the workload's `minTimedPasses`. With a tracer,
    * untraced and traced passes come in pairs until both kinds together
    * have spent `seconds` (at least two pairs), the
    * order alternating from pair to pair (UT, TU, ...) over an even number
    * of pairs, so a JVM that is still speeding up favours neither kind.
    * Before each pass, off the clock, a full GC leaves the heap at its
    * live set, so no pass pays for its predecessors' garbage. Each pass's
    * outputs are digested and dropped after its timer stops, also off
    * the clock. Returns the untraced and the traced passes, each with its
    * digests, and each untraced pass's old-generation peak.
    */
  private def timedPasses(wl: Workload, untraced: Tracer, tracer: Option[Tracer],
                          seconds: Double): (Seq[Digested], Seq[Digested], Seq[Double]) = {
    val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Digested]
    val plainPeakMb = scala.collection.mutable.ArrayBuffer.empty[Double]
    def run(tr: Tracer) = {
      OldGen.settle()
      val p = wl.pass(tr, Workload.CheckedPass + plain.length + traced.length)
      val peak = OldGen.peakMb()
      val d = p.digests()
      p.release()
      (p -> d, peak)
    }
    def runPlain(): Unit = { val (pd, peak) = run(untraced); plain += pd; plainPeakMb += peak }
    def spent = (plain ++ traced).map(_._1.wallS).sum
    tracer match {
      case None =>
        while (spent < seconds || plain.length < wl.minTimedPasses) runPlain()
      case Some(tr) =>
        while (spent < seconds || traced.length < 2 || traced.length % 2 == 1) {
          if (traced.length % 2 == 0) { runPlain(); traced += run(tr)._1 }
          else { traced += run(tr)._1; runPlain() }
        }
    }
    (plain.toSeq, traced.toSeq, plainPeakMb.toSeq)
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a lingering non-daemon thread must not keep the JVM
    val code = try { run(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    new File(a.out).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val untraced = new Tracer(sc, enabled = false)

    val wl = Workload(a.workload, spark, a)
    val inputS = { val t = now(); wl.setupInputs(); now() - t }
    val warm = (1 to wl.warmupPasses).map { _ => val w = wl.pass(untraced, 0); w.release(); w }
    // everything a user waits through before the first timed call
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = if (a.trace) Some(new Tracer(sc, enabled = true)) else None
    val (timed, tracedPasses, peakMb) = timedPasses(wl, untraced, tracer, a.seconds)
    val passes = timed.map(_._1)
    val traced = tracer.map(tr => (tracedPasses, tr.finished()))

    val checkS0 = now()
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    failures ++= wl.check()
    // every pass must give the first timed pass's answers, and so must
    // every earlier run of this input in this checkout
    val reference = timed.head._2
    (timed.tail ++ traced.toSeq.flatMap(_._1)).zipWithIndex.foreach { case ((_, d), i) =>
      d.foreach { case (k, v) =>
        if (!reference.get(k).contains(v))
          failures += s"timed pass ${i + 2}: $k digest $v, first pass ${reference.get(k).orNull}"
      }
    }
    val inputKey = wl.info.toMap.getOrElse("input_sha256", "fixed").take(16)
    val digestFile = new File(a.out, s"digests-${a.workload}-$inputKey.tsv")
    val digestText = reference.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
    if (digestFile.isFile) {
      val before = new String(Files.readAllBytes(digestFile.toPath), UTF_8)
      if (before != digestText)
        failures += s"digests differ from an earlier run on the same input: $digestFile"
    } else Files.write(digestFile.toPath, digestText.getBytes(UTF_8))
    val checkS = now() - checkS0

    val allCalls = warm.flatMap(_.calls) ++ passes.flatMap(_.calls) ++ traced.toSeq.flatMap(_._1.flatMap(_._1.calls))
    val thrown = allCalls.count(!_.ok)
    val failed = math.min(allCalls.length, thrown + failures.length)
    // The end-to-end figures take the first `minTimedPasses` timed passes,
    // so a change that makes passes faster is compared over the same
    // stretch of warm-up; the stamp lists every pass.
    val window = passes.take(wl.minTimedPasses)
    val okCalls = window.flatMap(_.calls).filter(_.ok)
    val timedCalls = okCalls.map(_.seconds)
    // a pass as the sum of its calls' medians over the window, so a slow
    // call in one pass and another in the next both drop out
    def medianPass(f: Call => Double) =
      okCalls.groupBy(_.name).values.map(cs => Stats.median(cs.map(f))).sum
    val passWall = medianPass(_.seconds)
    val passCpu = medianPass(_.cpuS)
    val callsPerPass = passes.head.calls.length
    val callP50 = if (wl.comparableCalls) Stats.median(timedCalls) else passWall / callsPerPass
    val callCpuP50 =
      if (wl.comparableCalls) Stats.median(okCalls.map(_.cpuS)) else passCpu / callsPerPass
    // the tail is reported only in the stamp: a timed window makes 9 to
    // 36 calls, too few for p90 to have ten calls beyond it (the full
    // 114-query sweep has enough)
    val (tailPct, tailS) = Stats.tail(timedCalls)

    val stamp = Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "nproc" -> cores.toString,
      "master" -> sc.master, "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_local_dir" -> sc.getConf.get("spark.local.dir", ""),
      "bypass_merge_threshold" -> sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold", "200"),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version) ++
      a.stamp.toSeq.sortBy(_._1) ++ wl.info ++ Seq(
      "session_s" -> sessionS.toString, "input_setup_s" -> inputS.toString,
      "warmup_s" -> warm.map(_.wallS).mkString(","),
      "warmup_call_s" -> warm.flatMap(_.calls).map(c => f"${c.name}=${c.seconds}%.3f").mkString(","),
      "check_s" -> checkS.toString,
      "passes" -> passes.length.toString, "pass_s" -> passes.map(_.wallS).mkString(","),
      "pass_cpu_s" -> passes.map(p => f"${p.calls.map(_.cpuS).sum}%.3f").mkString(","),
      "pass_host_steal_s" -> passes.map(p => f"${p.stealS}%.2f").mkString(","),
      "pass_old_gen_peak_mb" -> peakMb.map(m => f"$m%.1f").mkString(","),
      "call_median_s" -> passes.flatMap(_.calls).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, cs) => f"$n=${Stats.median(cs.map(_.seconds))}%.3f" }.mkString(","),
      "rows_per_s" -> (wl.rowsPerPass / passWall).toString, "call_p50_s" -> callP50.toString,
      "timed_calls" -> timedCalls.length.toString, "tail_percentile" -> tailPct.toString,
      "call_tail_s" -> tailS.toString,
      "error_rate" -> (failed.toDouble / allCalls.length).toString,
      "jvm_s" -> ((System.currentTimeMillis() - jvmStartMs) / 1000.0).toString)
    val stampJson = Json.obj(stamp.map { case (k, v) => k -> Json.str(v) })
    println(stampJson)
    failures.foreach(f => println(s"[perfbench] check failed: $f"))

    // Wall-time throughput and latency go to the stamp only: on a shared
    // host they move with the neighbours' load, CPU seconds much less. The
    // heap figure is a median because one pass's old-generation peak
    // depends on where its young collections fall.
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "rows_per_cpu_s" -> (wl.rowsPerPass / passCpu, "1/s"),
      "call_cpu_p50_s" -> (callCpuP50, "s"),
      "peak_heap_mb" -> (Stats.median(peakMb.take(wl.minTimedPasses)), "MB"))

    val metrics = traced match {
      case None => endToEnd
      case Some((tps, spans)) =>
        val ps = tps.map(_._1)
        val dir = new File(a.out, s"${a.workload}-seed${a.seed}")
        dir.mkdirs()
        Files.write(new File(dir, "spans.jsonl").toPath,
          spans.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8))
        val tracedWall = Stats.median(ps.map(_.wallS))
        // each traced pass against the untraced pass of its pair
        val overhead = Stats.median(ps.zip(passes).map { case (t, u) => t.wallS - u.wallS })
        val layerSum = spans.map(_.wallS).sum / ps.length
        val meanWall = ps.map(_.wallS).sum / ps.length
        val report = Json.obj(Seq(
          "untraced_pass_s" -> Json.num(passWall), "traced_pass_s" -> Json.num(tracedWall),
          "overhead_s" -> Json.num(overhead),
          "overhead_pct" -> Json.num(100.0 * overhead / passWall),
          "traced_passes" -> ps.length.toString, "layer_wall_sum_s" -> Json.num(layerSum),
          "traced_mean_pass_s" -> Json.num(meanWall),
          "layer_coverage" -> Json.num(layerSum / meanWall)))
        Files.write(new File(dir, "trace.json").toPath, (report + "\n").getBytes(UTF_8))
        println(s"[perfbench] trace: $report")
        if (a.workload == "suite") {
          val rows = spans.groupBy(_.call).toSeq.sortBy(_._1).map { case (q, ss) =>
            s"$q\t${ss.head.layer}\t${Stats.median(ss.map(_.wallS))}\t${ss.head.jobs}\t" +
              s"${ss.head.taskDurMs.length}"
          }
          Files.write(new File(dir, "queries.tsv").toPath,
            ("query\tlayer\twall_s\tjobs\ttasks\n" + rows.mkString("", "\n", "\n")).getBytes(UTF_8))
        }
        val perLayer = Trace.layers.flatMap { layer =>
          val ss = spans.filter(_.layer == layer)
          Trace.kinds.map { case (kind, unit) =>
            val v = if (ss.isEmpty) 0.0 else kind match {
              case "task_skew" => ss.map(_.metrics(kind)).max
              case _ => ss.map(_.metrics(kind)).sum / ps.length
            }
            s"$layer.$kind" -> (v, unit)
          }
        }
        perLayer
    }

    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> allCalls.length.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Files.write(new File(a.out, s"result-${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json").toPath,
      (stampJson + "\n" + result + "\n").getBytes(UTF_8))
    spark.stop()
    println(result)
  }
}

/** The old generation around a timed pass: `settle` runs a full GC and
  * resets the peak, `peakMb` reads the peak since. Spark's status store
  * keeps something of every call, so the live set, and with it the peak,
  * grows from pass to pass.
  */
object OldGen {
  private val pool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def settle(): Unit = {
    System.gc()
    pool.foreach(_.resetPeakUsage())
  }

  def peakMb(): Double = pool.map(_.getPeakUsage.getUsed / 1e6).getOrElse(0.0)
}

/** The per-layer metric names: every layer of every workload times every
  * kind, so a traced run of any workload prints the same 128 names (a
  * layer the workload does not run reads 0).
  */
object Trace {
  val layers = Seq("geocode", "pip", "knn", "moran_lookup",
    "moran", "geary", "joincount", "multigeary", "quantile", "tile_moran",
    "q_weights", "q_stats", "q_cluster", "q_spatial", "q_corpus", "q_relational")
  val kinds = Seq("wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "task_skew" -> "ratio",
    "shuffle_write_mb" -> "MB", "cpu_s" -> "s", "gc_s" -> "s", "result_mb" -> "MB")
}
