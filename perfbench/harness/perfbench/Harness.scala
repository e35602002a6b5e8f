package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One op of a closed-loop client: its interval, outcome, and the
  * workload's own per-op figures (`sub`). */
final class OpRec(val id: Long, val client: Int, val traced: Boolean) {
  var t0 = 0.0; var t1 = 0.0
  var ok = false; var err = ""
  val sub: ObjectNode = Harness.mapper.createObjectNode()
}

/** A workload: `open` loads its generated inputs into the session,
  * `op` is one closed-loop request (it throws or returns an error message
  * on a wrong answer), `close` releases what `open` started. */
trait Workload {
  def clients: Int
  def open(spark: SparkSession, dataDir: String): Unit
  def op(rec: OpRec): Option[String]
  def close(): Unit = ()
  /** Figures written once at the end of the run (after timing). */
  def finish(out: ObjectNode): Unit = ()
}

/** Runs one workload: one set-up from a cold JVM (session + inputs +
  * warm-up), then a closed loop for the given seconds, then writes the raw
  * record (ops, the set-up, and in traced runs spans plus listener events)
  * as JSON for run.py to check and reduce.
  *
  * Usage: perfbench.Harness <config.json> */
object Harness {
  val mapper = new ObjectMapper()
  val OpProperty = "perfbench.op"
  val TagRe: Regex = """pb-op=(\d+)""".r

  def main(args: Array[String]): Unit = {
    val mainAt = Clock.now()
    val conf = mapper.readTree(new File(args(0)))
    val trace = conf.get("trace").asBoolean
    val seconds = conf.get("seconds").asDouble
    val nproc = conf.get("nproc").asInt
    val work = conf.get("work_dir").asText
    val wl: Workload = conf.get("workload").asText match {
      case "adhoc_sql" => new AdhocSql(conf)
      case "curate_batch" => new CurateBatch
      case "lakehouse_rw" => new LakehouseRw(conf, work)
      case w => sys.error(s"unknown workload $w")
    }
    val out = mapper.createObjectNode()
    val bootS = mainAt - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val recorder = new Recorder

    // ---- set-up: session, inputs, warm-up ops
    val t0 = Clock.now()
    val spark = session(nproc, work)
    if (trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }
    val t1 = Clock.now()
    wl.open(spark, conf.get("data_dir").asText)
    (0 until conf.get("warmup_ops").asInt).foreach { k =>
      val r = new OpRec(-1 - k, 0, traced = false)
      runOp(spark, wl, r)
      if (!r.ok) sys.error(s"warm-up op failed: ${r.err}")
    }
    out.putObject("setup").put("boot_s", bootS)
      .put("session_s", t1 - t0).put("warmup_s", Clock.now() - t1)

    // ---- timed closed loop
    val ops = new ConcurrentLinkedQueue[OpRec]()
    val next = new AtomicLong(0)
    val start = Clock.now()
    val deadline = start + seconds
    if (!trace) {
      val threads = (0 until wl.clients).map { c =>
        new Thread(() => {
          while (Clock.now() < deadline) {
            val r = new OpRec(next.getAndIncrement(), c, traced = false)
            runOp(spark, wl, r); ops.add(r)
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    } else {
      // rounds: every client runs one op, then the bus drains and the
      // recorder toggles, so traced and untraced ops alternate cleanly
      var round = 0
      while (Clock.now() < deadline) {
        val traced = round % 2 == 0
        recorder.on = traced
        val barrier = new CyclicBarrier(wl.clients)
        val threads = (0 until wl.clients).map { c =>
          new Thread(() => {
            barrier.await()
            val r = new OpRec(next.getAndIncrement(), c, traced)
            runOp(spark, wl, r); ops.add(r)
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        org.apache.spark.perfbench.BusShim.drain(spark.sparkContext)
        recorder.on = false
        round += 1
      }
    }
    val end = Clock.now()

    out.put("workload", conf.get("workload").asText).put("nproc", nproc)
      .put("clients", wl.clients).put("start", start).put("end", end)
      .put("peak_rss_mb", peakRssMb())
    val arr = out.putArray("ops")
    ops.asScala.toSeq.sortBy(_.id).foreach { r =>
      val n = arr.addObject().put("id", r.id).put("client", r.client)
        .put("traced", r.traced).put("t0", r.t0).put("t1", r.t1)
        .put("ok", r.ok).put("err", r.err)
      n.set[JsonNode]("sub", r.sub)
    }
    wl.finish(out)
    if (trace) {
      Spans.toJson(out.putArray("spans"))
      recorder.toJson(out)
    }
    wl.close()
    spark.stop()
    mapper.writeValue(new File(conf.get("out").asText), out)
  }

  private def runOp(spark: SparkSession, wl: Workload, r: OpRec): Unit = {
    spark.sparkContext.setLocalProperty(OpProperty, r.id.toString)
    Spans.beginOp(r.id, r.traced)
    r.t0 = Clock.now()
    try {
      Spans.span("op")(wl.op(r)) match {
        case None => r.ok = true
        case Some(e) => r.err = e
      }
    } catch {
      case e: Throwable => r.err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(2000)
    } finally {
      r.t1 = Clock.now()
      Spans.endOp()
      spark.sparkContext.setLocalProperty(OpProperty, null)
    }
  }

  private def session(nproc: Int, work: String): SparkSession = {
    val s = graft.GraftSession.builder(master = s"local[$nproc]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Order-insensitive digest of collected rows. */
  def digest(rows: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.toSeq.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
