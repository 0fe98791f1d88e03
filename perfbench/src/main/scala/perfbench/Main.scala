package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Bench, Engine, SparkEntry}

/** One benchmark run: one process, one `local[cores]` session, a closed
  * loop with one client over the workload's operations.
  *
  *   Main --workload W --seconds S --trace 0|1 --work DIR --inputs DIR
  *        --cores C --spawn-ms MS
  *
  * Writes `DIR/run/result.json` for perfbench/run.py, which adds the
  * DuckDB oracle check and prints the benchmark's result line.
  *
  * Untraced (`--trace 0`): end-to-end metrics, no listener attached.
  * Traced (`--trace 1`): passes alternate traced and untraced in the
  * same JVM; the traced ones give the per-layer metrics and the ratio
  * of the two medians is `trace.overhead`.
  */
object Main {

  val WarmupPasses = 2
  val MinPasses = 4

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ > 0).sum

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** Order-independent row count and content hash; columns compared by
    * name, every value through its string form. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cells = df.columns.sorted.toSeq.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(concat_ws("\u0001", cells: _*)).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else f.length

  def main(args: Array[String]): Unit = {
    val spawnMs = arg(args, "spawn-ms").toLong
    val w = Workloads.all(arg(args, "workload"))
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val cores = arg(args, "cores").toInt
    val runDir = s"$work/run"
    val inputs = arg(args, "inputs")

    val s0 = System.nanoTime()
    val spark = Engine.session(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - s0) / 1e9

    val derbyUrl = s"jdbc:derby:$runDir/derby/db;create=true"
    val loads = if (w.etl) Workloads.loads(spark, inputs, cores, derbyUrl,
      s"$runDir/targets") else Nil
    if (w.etl) Workloads.createCopyTarget(spark, inputs, derbyUrl)
    val extract = if (w.etl) Some(Workloads.extractOp(spark, inputs)) else None
    val ops = extract.toSeq ++ Workloads.queryOps(spark, w, inputs) ++ loads.map(_.op)

    val k0 = System.nanoTime()
    val canaryPre = if (traced) Bench.canary(spark) else 0.0
    val canaryS = (System.nanoTime() - k0) / 1e9
    val runner = new Runner(spark)
    val w0 = System.nanoTime()
    // untimed: the first pass loads classes and compiles the plans, the
    // second lets the JIT catch up with the streaming and sink paths
    (-WarmupPasses until 0).foreach(runner.pass(_, ops))
    val warmupS = (System.nanoTime() - w0) / 1e9
    // process start to the first timed operation; the canary is a
    // diagnosis of the box, not part of setting up
    val setupS = (System.currentTimeMillis() - spawnMs) / 1e3 - canaryS

    // the timed closed loop: whole passes until the time is up, and at
    // least MinPasses, so the median never rests on one or two passes
    // and a traced run has two traced and two untraced passes
    val trace = if (traced) Some(new Trace(spark)) else None
    val passWall = mutable.ArrayBuffer[Double]()
    val passCpu = mutable.ArrayBuffer[Double]()
    val passGc = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var p = 0
    while (p < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = trace.isDefined && p % 2 == 0
      if (on) { trace.get.attach(); runner.readPinned = true }
      val (c0, gc0, n0) = (cpuNs(), gcMs(), System.nanoTime())
      runner.pass(p, ops)
      passWall += (System.nanoTime() - n0) / 1e9
      passCpu += (cpuNs() - c0) / 1e9
      passGc += (gcMs() - gc0) / 1e3
      if (on) { trace.get.detach(); runner.readPinned = false }
      p += 1
    }
    val canaryPost = if (traced) Bench.canary(spark) else 0.0

    // output check, outside the timed passes
    val checkFail = mutable.LinkedHashMap[String, String]()
    val check = s"$runDir/check"
    def guard(name: String)(body: => Unit): Unit =
      try body catch { case NonFatal(e) =>
        checkFail(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      } finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val checked = (w.queries ++ loads.map(_.query)).distinct
    checked.foreach { q =>
      guard(q)(SparkEntry.queries(q)(spark, inputs).coalesce(1)
        .write.mode("overwrite").parquet(s"$check/$q"))
    }
    Files.createDirectories(Paths.get(check))
    Files.writeString(Paths.get(s"$check/oracle_sql.json"), Json.obj(
      checked.map(q => q -> Json.str(SparkEntry.oracleSql.getOrElse(q, ""))): _*))
    extract.foreach(e => guard(e.name) {
      val got = fingerprint(e.build())
      val want = fingerprint(Workloads.expectedExtract(spark, inputs))
      if (got != want) throw new IllegalStateException(s"extract $got != expected $want")
    })
    val rowsOf = mutable.Map[String, Long]()
    loads.foreach { l =>
      guard(l.op.name) {
        val want = fingerprint(l.source())
        val got = fingerprint(l.readBack())
        rowsOf(l.op.name) = want._1
        // equal counts after every pass reloaded the same frame is the
        // idempotency check for the keyed loads
        if (got != want) throw new IllegalStateException(
          s"target holds (rows, hash) $got, source $want")
      }
    }

    val executions = ops.map(o => o.name -> runner.spans.count(s =>
      s.name == "op" && s.pass >= 0 && s.op == o.name)).toMap
    // the checks each operation's output is judged by
    val checksOf = ops.map(o => o.name -> (o.name +: loads.filter(_.op == o).map(_.query)))
    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> setupS,
        "pass_s" -> Report.median(passWall.toSeq),
        "cpu_s" -> Report.median(passCpu.toSeq),
        "peak_rss_mb" -> peakRssMb())
      else {
        val t = trace.get
        val kinds = ops.map(o => o.name -> o.kind).toMap
        val sinkOf = loads.map(l => l.op.name -> l.sink).toMap
        val tracedPasses = (0 until p).filter(_ % 2 == 0)
        val per = tracedPasses.map(i => Report.pass(i, passWall(i), cores, runner, t,
          kinds, sinkOf, rowsOf.toMap))
        val layer = per.head.keys.toSeq.sorted.map(k => k -> Report.median(per.map(_(k))))
        val untraced = (0 until p).filter(_ % 2 == 1).map(passWall)
        layer ++ Seq(
          "engine.session_s" -> sessionS,
          "engine.warmup_s" -> warmupS,
          "spark.gc_s" -> Report.median(tracedPasses.map(passGc)),
          "sinks.output_mb" -> (treeBytes(new java.io.File(s"$runDir/targets")) +
            treeBytes(new java.io.File(s"$runDir/derby"))) / 1e6,
          "trace.overhead" -> Report.median(tracedPasses.map(passWall)) /
            Report.median(untraced),
          "health.canary_s" -> (canaryPre + canaryPost) / 2)
      }

    if (traced) Files.writeString(Paths.get(s"$runDir/trace.json"), Json.obj(
      "spans" -> runner.spans.map(s => Json.obj(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "op_id" -> s.opId.toString, "pass" -> s.pass.toString, "op" -> Json.str(s.op),
        "start_ms" -> s.startMs.toString, "seconds" -> Json.num(s.seconds)))
        .mkString("[", ",", "]"),
      "ops" -> runner.spans.filter(s => s.name == "op" && s.pass >= 0 && s.pass % 2 == 0)
        .map(s => Json.obj(Seq("pass" -> s.pass.toString, "op" -> Json.str(s.op),
          "seconds" -> Json.num(s.seconds)) ++
          Report.opCounts(s.opId, trace.get).map { case (k, v) => k -> v.toString }: _*))
        .mkString("[", ",", "]"),
      "canary_s" -> s"[${Json.num(canaryPre)},${Json.num(canaryPost)}]"))

    Files.writeString(Paths.get(s"$runDir/result.json"), Json.obj(
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }: _*),
      "passes" -> p.toString,
      "pass_s" -> passWall.map(Json.num).mkString("[", ",", "]"),
      "executions" -> Json.obj(executions.map { case (k, v) => k -> v.toString }.toSeq: _*),
      "checks" -> Json.obj(checksOf.map { case (k, v) =>
        k -> v.map(Json.str).mkString("[", ",", "]") }: _*),
      "failures" -> runner.failures.filter(_._1 >= 0).map { case (ps, op, e) =>
        Json.obj("pass" -> ps.toString, "op" -> Json.str(op), "error" -> Json.str(e))
      }.mkString("[", ",", "]"),
      "check_failures" -> Json.obj(checkFail.toSeq.map { case (k, v) => k -> Json.str(v) }: _*)))
    spark.stop()
  }
}

/** Minimal JSON text for the result file: values are passed already
  * encoded, except through `str` and `num`. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
