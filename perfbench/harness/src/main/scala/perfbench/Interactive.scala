package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The `interactive` workload: one analyst in a closed loop, issuing the
  * next declared query as soon as the previous one returns.
  *
  * Usage: Interactive --data DIR --queries FILE --seed N --seconds S
  *   --trace 0|1 --cpus N --out FILE [--digests FILE | --record FILE]
  *
  *  1. Set-up, three times: build a SparkSession and run untimed warmup
  *     actions; all but the last session are stopped again.
  *  2. First pass: every query once, in a seed-shuffled order, in the fresh
  *     session. It pays codegen compiles and first touch.
  *  3. Later passes, each in its own seed-shuffled order, until `seconds`
  *     have passed (at least three). With `--trace 1` they alternate
  *     untraced and traced, starting and ending untraced (at least five),
  *     so tracing overhead is measured in one run.
  *  4. Check pass, untimed: each query's result digest is compared with the
  *     recorded one (`--digests`), or recorded (`--record`).
  *
  * Every timed execution writes to Spark's `noop` sink, which computes every
  * output column and charges no I/O. Results go to `--out` as JSON. */
object Interactive {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val names = Files.readAllLines(Paths.get(a("queries"))).toArray(Array[String]())
      .map(_.trim).filter(_.nonEmpty).toSeq
    val fns = graft.Queries.all.map(q => q.name -> q.fn).toMap
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val expected = a.get("digests").map(readDigests).getOrElse(Map.empty)

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.rdd.compress", "true")
        .config("spark.checkpoint.compress", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s.range(1000000).selectExpr("sum(id * 2)").collect()
      s.range(10000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").sum("v").collect()
      Seq("region", "documents", "embeddings").foreach(t => s.read.parquet(s"$data/$t.parquet").count())
      s
    }
    val setupS = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var spark: SparkSession = null
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      val c0 = cpuSnapshot()
      spark = session()
      setupS += (((System.nanoTime() - t0) / 1e9, cpuSince(c0)))
      if (i < 3) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    val tracer = new Tracer
    var tracing = false
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      ListenerDrain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(tracer.sparkListener)
        spark.listenerManager.register(tracer.queryListener)
      } else {
        spark.sparkContext.removeSparkListener(tracer.sparkListener)
        spark.listenerManager.unregister(tracer.queryListener)
      }
      tracing = on
    }

    var attempted = 0
    var failed = 0
    /** Wall and cpu seconds of one execution; wall is -1 if it threw. */
    def execute(name: String): (Double, Double) = {
      attempted += 1
      spark.catalog.clearCache()
      val root = if (tracing) tracer.beginOp(name) else -1
      val c0 = cpuSnapshot()
      val t0 = System.nanoTime()
      val sec = try {
        val build = if (tracing) tracer.open("build", root) else -1
        val df = fns(name)(spark, data)
        if (tracing) tracer.close(build)
        val action = if (tracing) tracer.open("action", root) else -1
        df.write.format("noop").mode("overwrite").save()
        if (tracing) tracer.close(action)
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[interactive] $name failed: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(300))
          -1.0
      }
      val cpu = cpuSince(c0)
      if (tracing) {
        tracer.close(root)
        ListenerDrain(spark.sparkContext)
        tracer.endOp()
      }
      (sec, cpu)
    }
    def pass(i: Int): String = {
      val order = new scala.util.Random(seed * 1000003L + i).shuffle(names)
      val t0 = System.nanoTime()
      val c0 = processCpu()
      val j0 = jitSeconds()
      val times = order.map(n => n -> execute(n))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = processCpu() - c0
      val jit = jitSeconds() - j0
      val qs = times.map { case (n, (s, c)) => f"""["$n",$s%.6f,$c%.6f]""" }.mkString(",")
      f"""{"traced":$tracing,"wall":$wall%.6f,"cpu":$cpu%.6f,"jit":$jit%.6f,"queries":[$qs]}"""
    }

    val host0 = graft.tools.ProcStat.stealIowait()
    val load1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    val m0 = System.nanoTime()
    setTracing(trace)
    val first = pass(0)
    val later = scala.collection.mutable.ArrayBuffer[String]()
    val t1 = System.nanoTime()
    val minPasses = if (trace) 5 else 3
    while (later.size < minPasses || (System.nanoTime() - t1) / 1e9 < seconds ||
        (trace && later.size % 2 == 0)) {
      setTracing(trace && later.size % 2 == 1)
      later += pass(later.size + 1)
    }
    setTracing(false)
    val measured = (System.nanoTime() - m0) / 1e9
    val host1 = graft.tools.ProcStat.stealIowait()

    val digests = names.sorted.map { n =>
      attempted += 1
      val d = try digest(fns(n)(spark, data)) catch {
        case e: Throwable =>
          System.err.println(s"[interactive] $n check failed: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(300))
          "error"
      }
      n -> d
    }
    val wrong = if (a.contains("record")) Seq.empty
      else digests.collect { case (n, d) if !expected.get(n).contains(d) => n }
    failed += wrong.size
    a.get("record").foreach { p =>
      Files.write(Paths.get(p), digests.map { case (n, d) => s"""  "$n": "$d"""" }
        .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    }
    spark.stop()

    def jiffies(s: Option[(Long, Long)]) = s.map(x => s"[${x._1},${x._2}]").getOrElse("null")
    val out = new StringBuilder
    out ++= s"""{"setup":[${setupS.map { case (w, c) => f"[$w%.6f,$c%.6f]" }.mkString(",")}],"""
    out ++= s""""first":$first,"later":[${later.mkString(",")}],"""
    out ++= s""""wrong":[${wrong.map(w => "\"" + w + "\"").mkString(",")}],"""
    out ++= s""""attempted":$attempted,"failed":$failed,"""
    out ++= f""""host":{"load1":$load1%.2f,"nproc":${Runtime.getRuntime.availableProcessors},"""
    out ++= f""""measured_s":$measured%.6f,"steal_iowait_0":${jiffies(host0)},"steal_iowait_1":${jiffies(host1)}},"""
    out ++= s""""trace":${if (trace) tracer.json() else "null"}}"""
    Files.write(Paths.get(a("out")), out.toString.getBytes(UTF_8))
  }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Cpu seconds of the whole JVM process so far: every thread, the JIT
    * compiler and GC threads included, as the kernel accounts them. Passes
    * are charged with it; each pass also reports its JIT compile time, so
    * the two can be told apart. */
  private def processCpu(): Double = osBean.getProcessCpuTime / 1e9

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** Seconds the JIT compiler threads have spent compiling so far. */
  private def jitSeconds(): Double = jit.getTotalCompilationTime / 1e3

  /** Cpu nanoseconds used so far by each live Java thread: the driver,
    * Spark's task and scheduler threads. */
  private def cpuSnapshot(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Cpu seconds the live Java threads used since `before`: the driver and
    * Spark's task and scheduler threads. Unlike wall time it does not grow
    * while the host steals the cpus. It charges single query executions and
    * session set-ups, where process time would blur: JIT compiler and GC
    * threads are not Java threads, and their work is deferred and lands on
    * whatever runs next (the JIT work of the first, cold set-up lands on
    * the second). A thread that ended in between is not counted. */
  private def cpuSince(before: Map[Long, Long]): Double =
    cpuSnapshot().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  private def readDigests(path: String): Map[String, String] = {
    val entry = """"([a-z0-9_]+)":\s*"([^"]*)"""".r
    entry.findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Order-insensitive digest of a result: row count, schema, and the
    * wrapping sum of one 64-bit hash per canonical row. Floating-point
    * values are canonicalised to 9 significant digits (6 for floats), map
    * entries are sorted, and timestamps are read as instants, so the digest
    * is independent of partitioning, map order and the JVM time zone. */
  def digest(df: DataFrame): String = {
    val rows = df.collect()
    var sum = 0L
    rows.foreach(r => sum += hash64(canon(r)))
    f"${rows.length}-${hash64(df.schema.simpleString)}%016x-$sum%016x"
  }

  private def hash64(s: String): Long =
    java.nio.ByteBuffer.wrap(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))).getLong

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else f"$d%.8e"
    case f: Float => if (f.isNaN) "NaN" else if (f == 0.0f) "0" else f"${f.toDouble}%.5e"
    case t: java.sql.Timestamp => s"ts:${t.getTime}:${t.getNanos}"
    case d: java.sql.Date => s"date:${d.toLocalDate}"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }
}
