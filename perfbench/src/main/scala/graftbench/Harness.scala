package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.math3.special.Beta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}

/** The benchmark's JVM side: one fresh JVM per run, one client, one query
  * at a time (a closed loop). graft is driven only through its public
  * entry points (`SparkEntry.queries`, `GraftSession.local`, `Tables`);
  * everything measured comes from the harness's own clocks and Spark's
  * public listener, `QueryExecution` and JMX APIs.
  *
  * Modes (first argument):
  *  - `setup`:  start the session, read the input footers, print the
  *              set-up time and exit. `run.py` starts a few of these to
  *              report a median set-up time.
  *  - `run`:    set up, then make passes over the key list (the first
  *              in list order, later ones in a seed-permuted order) until
  *              `--seconds` have elapsed and at least [[MinPasses]] passes
  *              are done. Every execution is checked
  *              against the recorded row count and content hash. Warm
  *              metrics come from the passes after [[WarmupPasses]].
  *  - `record`: run each key once and write the expected outputs.
  *
  * The last stdout line is `RESULT <json>`.
  */
object Harness {

  final case class Outcome(rows: Long, hash: Long)

  /** Pass 1 is warm-up: the JIT is still compiling code the cold pass
    * first ran. Warm metrics start at this pass index, the same in every
    * run.
    */
  val WarmupPasses = 2

  /** The cold pass, the warm-up pass and at least three warm ones. */
  val MinPasses = WarmupPasses + 3

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse(sys.error("usage: Harness setup|run|record --flag value ..."))
    val opts = argv.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val dir = opt("dir")
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    val (spark, setupS) = setup(dir, cores)
    val result = mode match {
      case "setup" => s"""{"setup_s":${num(setupS)}}"""
      case "record" =>
        record(spark, dir, keyList(opt("keys")), opt("expected"))
      case "run" =>
        val expected = readExpected(opt("expected"))
        val trace = opts.get("trace").contains("1")
        run(spark, dir, keyList(opt("keys")), opt("seed").toLong,
          opt("seconds").toDouble, expected, trace, opts.get("spans"), setupS)
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
    println("RESULT " + result)
  }

  private def keyList(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** JVM start until the session is up and every table's footer has been
    * read (schema inference), i.e. what a one-shot job pays before its
    * first query.
    */
  def setup(dir: String, cores: Int): (SparkSession, Double) = {
    val spark = graft.GraftSession.local(cores, "perfbench")
    graft.Tables.all.foreach(t => graft.Tables(spark, dir, t).schema)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - startMs) / 1e3)
  }

  /** Builds the key's DataFrame and executes its physical plan once,
    * folding the produced rows into a row count and an order-insensitive
    * content hash (the wrapping sum of each row's xxhash64). The hash
    * consumes `executedPlan` itself, so Catalyst prunes nothing that a
    * noop sink would have executed: every column and every sort runs.
    */
  def execute(df: DataFrame): Outcome = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      val plan: SparkPlan = qe.executedPlan
      val hasher = new XxHash64(plan.output.zipWithIndex.map { case (a, i) =>
        BoundReference(i, a.dataType, a.nullable)
      }, 42L)
      val parts = plan.execute().mapPartitions { rows =>
        var n = 0L
        var h = 0L
        rows.foreach { r => n += 1; h += hasher.eval(r).asInstanceOf[Long] }
        Iterator((n, h))
      }.collect()
      Outcome(parts.map(_._1).sum, parts.map(_._2).sum)
    }
  }

  private def readExpected(path: String): Map[String, Outcome] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, rows, hash) = l.split("\t")
        k -> Outcome(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
      }.toMap

  private def record(spark: SparkSession, dir: String, keys: Seq[String],
                     out: String): String = {
    val qs = graft.SparkEntry.queries
    val lines = keys.map { k =>
      val o = execute(qs(k)(spark, dir))
      spark.catalog.clearCache()
      s"$k\t${o.rows}\t${java.lang.Long.toHexString(o.hash)}"
    }
    Files.write(Paths.get(out), (lines :+ "").mkString("\n").getBytes("UTF-8"))
    s"""{"recorded":${keys.size}}"""
  }

  private def run(spark: SparkSession, dir: String, keys: Seq[String],
                  seed: Long, seconds: Double, expected: Map[String, Outcome],
                  trace: Boolean, spansPath: Option[String],
                  setupS: Double): String = {
    val qs = graft.SparkEntry.queries
    keys.foreach(k => require(qs.contains(k), s"unknown query key $k"))
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val warmLatS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val latencies = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    var attempted = 0L
    val t0 = System.nanoTime()
    val cpu0 = os.getProcessCpuTime
    var cpuS = Double.NaN
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      // The cold pass runs the keys as listed, like a fixed one-shot job,
      // so its time does not depend on which key pays for the JIT; warm
      // passes run them in a seed-permuted order.
      val order =
        if (pass == 0) keys else new scala.util.Random(seed * 1000003L + pass).shuffle(keys)
      tracer.foreach(_.beginPass(pass))
      val p0 = System.nanoTime()
      order.foreach { k =>
        attempted += 1
        val q0 = System.nanoTime()
        val ok =
          try {
            val o = tracer match {
              case Some(t) => t.query(pass, k)(qs(k)(spark, dir))(execute)
              case None => execute(qs(k)(spark, dir))
            }
            expected.get(k).contains(o) || {
              failures += s"$k: got ${o.rows} rows, hash ${java.lang.Long.toHexString(o.hash)}"
              false
            }
          } catch {
            case e: Exception =>
              failures += s"$k: ${e.getClass.getSimpleName}: ${e.getMessage}"
              false
          }
        // Each query runs against a cold data cache, whatever ran before
        // it in this pass's order.
        spark.catalog.clearCache()
        val lat = (System.nanoTime() - q0) / 1e9
        latencies(k) = latencies.getOrElse(k, Vector.empty) :+ lat
        if (pass >= WarmupPasses && ok) warmLatS += lat
      }
      passS += (System.nanoTime() - p0) / 1e9
      tracer.foreach(_.endPass(pass))
      pass += 1
      // Over the first MinPasses passes, the same work in every run: how
      // much JIT work lands in which pass varies from run to run, the
      // total much less.
      if (pass == MinPasses) cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    }

    // A warm pass as the sum of each key's median warm latency: one slow
    // execution moves its key's median, not the whole pass.
    val warmPassS = keys.map(k => median(latencies(k).drop(WarmupPasses))).sum
    val fields = Seq(
      "setup_s" -> num(setupS),
      "first_pass_s" -> num(passS.head),
      "warm_pass_s" -> num(warmPassS),
      "query_p50_s" -> num(harrellDavis(warmLatS.toSeq, 0.5)),
      "query_p90_s" -> num(harrellDavis(warmLatS.toSeq, 0.9)),
      "cpu_s" -> num(cpuS),
      "peak_rss_mb" -> num(peakRssMb()),
      "passes" -> passS.size.toString,
      "warm_executions" -> warmLatS.size.toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.distinct.map(jsonStr).mkString("[", ",", "]"),
      "latencies_s" -> latencies.map { case (k, v) =>
        jsonStr(k) + ":" + v.map(num).mkString("[", ",", "]") }.mkString("{", ",", "}"),
    ) ++ tracer.map { t =>
      spark.stop() // flushes the listener bus, so every event is in
      "layers" -> t.finish(spansPath,
        Seq("trace.first_pass_s" -> passS.head, "trace.warm_pass_s" -> warmPassS))
    }
    fields.map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}")
  }

  /** Peak resident set of this process, from the kernel (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, NaN on an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Harrell-Davis estimate of the p-quantile: a mean of the order
    * statistics weighted by a Beta((n+1)p, (n+1)(1-p)) distribution. On a
    * pooled sample of a few keys, the sample median is one key's latency;
    * this estimate also leans on the executions next to it, and spreads
    * less between runs (0.15 against 0.21 of the median on pipeline).
    */
  def harrellDavis(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = ((n + 1) * p, (n + 1) * (1 - p))
      val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
