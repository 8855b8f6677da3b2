package olapbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side. `run.py` generates a workload's inputs from
  * the seed, starts this main with them, and checks what it writes.
  *
  * Usage: `olapbench.Main <inputs.json> <out.json>`
  *
  * One client thread drives the engine in a closed loop: each operation
  * starts after the previous one returned. Set-up (session start, cube
  * binding or corpus loading, warm-up) is timed once, up to the first
  * timed operation.
  */
object Main {
  val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val in = json.readTree(new File(args(0)))
    val h = new Harness(in)
    val out = json.createObjectNode()
    try {
      in.get("workload").asText match {
        case "olap_dashboard"  => Dashboard.run(h, out)
        case "curate_pipeline" => Curate.run(h, out)
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      h.finish(out)
    } finally h.stop()
    json.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), out)
  }
}

/** State shared by the workloads: the session, clock, tracer, job
  * counter and the per-operation records written to out.json.
  */
final class Harness(val in: JsonNode) {
  val dataDir: String = in.get("data_dir").asText
  val workDir: String = in.get("work_dir").asText
  val seconds: Double = in.get("seconds").asDouble
  val cpus: Int = in.get("cpus").asInt
  val tracer = new Tracer(in.get("trace").asBoolean)
  private val counter = new JobCounter
  private var spark: Option[SparkSession] = None
  private val opsOut: ArrayNode = Main.json.createArrayNode()
  private var setupMs = 0.0

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Start the SparkContext and its session. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("olapbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (tracer.enabled) {
      s.sparkContext.addSparkListener(counter)
      tracer.sc = Some(s.sparkContext)
    }
    spark = Some(s)
    s
  }

  /** Time set-up (`body`), traced as an operation of its own. */
  def setup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    tracer.op(Harness.SetupOp, "setup")(body)
    setupMs = ms(t0)
  }

  /** Run one timed operation and append its record. `body` returns the
    * forced results by name; converting them for the check happens after
    * the clock stops.
    */
  def timed(id: Int, kind: String, label: String)(
      body: => Seq[(String, (Seq[String], Array[Row]))]): ObjectNode = {
    val rec = Main.json.createObjectNode()
    rec.put("i", id)
    rec.put("kind", kind)
    rec.put("label", label)
    val cache = graft.olap.SegmentCache.global
    def stats = Seq(cache.hits, cache.misses, cache.evictions,
      cache.pinnedSkips, cache.merges)
    val before = stats
    val t0 = System.nanoTime()
    val result =
      try tracer.op(id, kind)(body)
      catch {
        case t: Throwable =>
          rec.put("error", s"${t.getClass.getSimpleName}: ${t.getMessage}")
          Nil
      }
    rec.put("ms", ms(t0))
    val seg = rec.putObject("segcache")
    Seq("hits", "misses", "evictions", "pinned_skips", "merges")
      .zip(stats.zip(before)).foreach { case (k, (a, b)) => seg.put(k, a - b) }
    val res = rec.putObject("results")
    result.foreach { case (name, (cols, rows)) =>
      Harness.putResult(res.putObject(name), cols, rows) }
    if (tracer.enabled) spark.foreach(s =>
      org.apache.spark.OlapbenchBus.drain(s.sparkContext))
    opsOut.add(rec)
    rec
  }

  /** Plan and force `df`, each in its own span. */
  def force(df: DataFrame): (Seq[String], Array[Row]) = {
    tracer.span("plans.catalyst")(df.queryExecution.executedPlan)
    (df.columns.toSeq, tracer.span("exec")(df.collect()))
  }

  /** `body` inside the engine's per-query scopes (pins released and
    * segment leases dropped on exit, as Bench and Verify run queries).
    * The time spent leaving the scopes is recorded as `pins.release`.
    */
  def scoped[T](body: => T): T = {
    var end = 0L
    val r = graft.olap.Pins.scoped {
      graft.olap.SegmentCache.global.withLease {
        val x = body
        end = System.nanoTime()
        x
      }
    }
    tracer.record("pins.release", end, System.nanoTime())
    r
  }

  /** Fixed synthetic shuffle+aggregate, timed once after setup: a
    * session-health reading, independent of the engine's code. A probe
    * failure means "no calibration", never a failed run.
    */
  def calibrate(spark: SparkSession, out: ObjectNode): Unit =
    try {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0L, 1000000L, 1L, 8)
        .selectExpr("pmod(xxhash64(id), 10000) AS k",
          "pmod(xxhash64(id + 7), 1000000) AS v")
        .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
        .agg(sum("s"), sum("n"))
        .queryExecution.toRdd.count()
      out.put("calibration_ms", ms(t0))
    } catch {
      case t: Throwable =>
        out.putNull("calibration_ms")
        out.put("calibration_error", t.getClass.getSimpleName)
    }

  def finish(out: ObjectNode): Unit = {
    out.put("setup_ms", setupMs)
    out.set[JsonNode]("ops", opsOut)
    out.put("peak_rss_mb", Harness.peakRssMb())
    if (tracer.enabled) {
      val spans = out.putArray("spans")
      tracer.spans.foreach { s =>
        val n = spans.addObject()
        n.put("id", s.id); n.put("parent", s.parent); n.put("op", s.op)
        n.put("name", s.name)
        n.put("start_ms", s.startNs / 1e6); n.put("end_ms", s.endNs / 1e6)
      }
      val jobs = out.putArray("jobs")
      counter.synchronized {
        counter.counts.foreach { case (k, c) =>
          val n = jobs.addObject()
          n.put("op", k.op); n.put("family", k.family); n.put("span", k.span)
          n.put("jobs", c.jobs); n.put("stages", c.stages)
          n.put("tasks", c.tasks); n.put("task_run_ms", c.taskRunMs)
          n.put("shuffle_read_bytes", c.shuffleRead)
          n.put("shuffle_write_bytes", c.shuffleWrite)
          n.put("spill_bytes", c.spill); n.put("gc_ms", c.gcMs)
        }
      }
    }
  }

  def stop(): Unit = spark.foreach(_.stop())
}

object Harness {
  /** Operation id of the set-up spans (timed operations count from 0). */
  val SetupOp = 1000000

  /** High-water resident set of this process (Linux VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
      finally src.close()
    }.getOrElse(-1.0)

  def putResult(rec: ObjectNode, cols: Seq[String], rows: Array[Row]): Unit = {
    val c = rec.putArray("cols")
    cols.foreach(c.add)
    val rs = rec.putArray("rows")
    rows.foreach { r =>
      val a = rs.addArray()
      (0 until r.length).foreach(i => addValue(a, r.get(i)))
    }
  }

  private def addValue(a: ArrayNode, v: Any): Unit = v match {
    case null                    => a.addNull()
    case d: java.math.BigDecimal => a.add(d.toPlainString)
    case d: scala.math.BigDecimal => a.add(d.bigDecimal.toPlainString)
    case d: Double =>
      if (d.isNaN || d.isInfinite) a.add(d.toString) else a.add(d)
    case f: Float =>
      if (f.isNaN || f.isInfinite) a.add(f.toString) else a.add(f.toDouble)
    case n: Long    => a.add(n)
    case n: Int     => a.add(n)
    case n: Short   => a.add(n.toInt)
    case n: Byte    => a.add(n.toInt)
    case b: Boolean => a.add(b)
    case s: String  => a.add(s)
    case r: Row =>
      val sub = a.addArray(); (0 until r.length).foreach(i => addValue(sub, r.get(i)))
    case s: scala.collection.Seq[_] =>
      val sub = a.addArray(); s.foreach(x => addValue(sub, x))
    case m: scala.collection.Map[_, _] =>
      val sub = a.addArray()
      m.toSeq.map { case (k, x) => (String.valueOf(k), x) }.sortBy(_._1)
        .foreach { case (k, x) =>
          val kv = sub.addArray(); kv.add(k); addValue(kv, x) }
    case other => a.add(other.toString)
  }
}
