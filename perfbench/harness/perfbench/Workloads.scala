package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.pipeline.Curate
import graft.sources.{DeltaDml, DeltaLogReader, DeltaLogWriter, QueryServer}

/** adhoc_sql: concurrent clients POST seeded SQL over dfs.`path` parquet
  * to an in-process QueryServer. Each client tags its SQL with the op id
  * (a comment), so the traced run can attribute server-side executions.
  * Answers are checked against DuckDB by run.py from the kept bodies. */
final class AdhocSql(conf: JsonNode) extends Workload {
  private val queries = conf.get("queries").asScala.map(_.asText).toIndexedSeq
  val clients: Int = conf.get("clients").asInt
  private var server: QueryServer.Running = null
  private var dir = ""
  private val bodies = new java.util.concurrent.ConcurrentLinkedQueue[ObjectNode]()

  def open(spark: SparkSession, dataDir: String): Unit = {
    dir = dataDir
    server = QueryServer.start(spark)
  }
  override def close(): Unit = if (server != null) { server.stop(); server = null }

  def op(rec: OpRec): Option[String] = {
    val q = Math.floorMod(rec.id, queries.size.toLong).toInt
    val sql = s"/* pb-op=${rec.id} */ " + queries(q).replace("{dir}", dir)
    val body = Harness.mapper.createObjectNode().put("query", sql).toString
    val (status, resp) = Spans.span("frontdoor.request") {
      val c = URI.create(s"http://127.0.0.1:${server.port}/query").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      c.getOutputStream.write(body.getBytes("UTF-8"))
      val st = c.getResponseCode
      val in = if (st < 400) c.getInputStream else c.getErrorStream
      try (st, new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
    rec.sub.put("query", q).put("status", status).put("response_bytes", resp.length)
    if (rec.id >= 0) bodies.add(Harness.mapper.createObjectNode()
      .put("op", rec.id).put("query", q).put("body", resp))
    if (status != 200) Some(s"HTTP $status: ${resp.take(300)}")
    else if (!resp.contains("\"queryState\":\"COMPLETED\"")) Some(s"query failed: ${resp.takeRight(300)}")
    else None
  }

  override def finish(out: ObjectNode): Unit = {
    val a = out.putArray("responses")
    bodies.asScala.toSeq.sortBy(_.get("op").asLong).foreach(a.add)
  }
}

/** curate_batch: one Curate.curate over the generated corpus plus a
  * survivor count per op. Checks: survivors are input rows, no exact-text
  * duplicates remain, no planted near-duplicate (a text plus the word
  * `dup`) survives beside its source, and the result digest never
  * changes. */
final class CurateBatch extends Workload {
  val clients = 1
  private var spark: SparkSession = null
  private var dir = ""
  private var input: Map[Long, String] = Map.empty
  private var reference: Option[String] = None

  def open(s: SparkSession, dataDir: String): Unit = {
    spark = s; dir = dataDir
    input = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  def op(rec: OpRec): Option[String] = {
    val docs = Spans.span("sources.table") { GraftSession.table(spark, dir, "documents") }
    val rows = Spans.span("pipeline.curate") {
      Curate.curate(docs, "doc_id", "text").select("doc_id", "text", "split").collect()
    }
    rec.sub.put("docs", input.size).put("survivors", rows.length)
    val ids = rows.map(_.getLong(0))
    val d = Harness.digest(rows.map(r => s"${r.getLong(0)}\t${r.getString(1)}\t${r.get(2)}"))
    rec.sub.put("digest", d)
    if (rows.isEmpty) Some("no survivors")
    else if (!ids.forall(input.contains)) Some("a survivor id is not in the input")
    else if (rows.exists(r => input(r.getLong(0)) != r.getString(1)))
      Some("a survivor's text differs from its input text")
    else if (rows.map(_.getString(1)).distinct.length != rows.length)
      Some("exact-text duplicates survived")
    else if (nearDupPairs(ids) > 0) Some(s"${nearDupPairs(ids)} planted near-duplicates survived beside their sources")
    else if (reference.exists(_ != d)) Some(s"digest $d differs from ${reference.get}")
    else { reference = Some(d); None }
  }

  /** Surviving (source, source + " dup") pairs, by input text. */
  private def nearDupPairs(ids: Array[Long]): Int = {
    val texts = ids.map(input).toSet
    texts.count(t => t.endsWith(" dup") && texts.contains(t.stripSuffix(" dup")))
  }
}

/** lakehouse_rw: per op one cycle of a seeded append
  * (DeltaLogWriter.write), a deletion-vector update (DeltaDml.updateDv: the
  * matched rows die under a DV and their new versions append), a snapshot
  * read plus aggregate (DeltaLogReader.read), and every
  * `checkpoint_cycles` cycles a checkpoint (DeltaLogWriter.checkpoint). So
  * the log a read replays grows by two commits a cycle until the next
  * checkpoint. The read is checked against the state the harness tracks.
  * The timed loop continues the set-up's table (so no timed op meets an
  * empty table), and tables restart every `epoch_cycles` cycles, a whole
  * number of checkpoint cycles, so each op meets the same range of table
  * sizes and log lengths whatever the speed. */
final class LakehouseRw(conf: JsonNode, work: String) extends Workload {
  val clients = 1
  private val seed = conf.get("seed").asLong
  private val batchRows = conf.get("batch_rows").asInt
  private val checkpointCycles = conf.get("checkpoint_cycles").asInt
  private val epochCycles = conf.get("epoch_cycles").asInt
  require(epochCycles % checkpointCycles == 0, "epoch_cycles must be a multiple of checkpoint_cycles")
  private var spark: SparkSession = null
  private val root = s"$work/lake"
  private val rng = new java.util.Random(seed)
  // tracked table state: key -> value
  private val state = mutable.HashMap[Long, Long]()
  private var table = ""
  private var tables = Vector.empty[String]
  private var cycle = 0
  private var nextKey = 0L
  private val seen = mutable.HashMap[String, (Long, Long)]()

  def open(s: SparkSession, dataDir: String): Unit = spark = s

  private def newTable(): Unit = {
    table = s"$root/t${tables.size}"
    tables :+= table
    state.clear(); seen.clear(); nextKey = 0L
  }

  /** Bytes of files under the table that are new or changed since the
    * last walk (the table's write volume). */
  private def newBytes(): Long = {
    val p = Paths.get(table)
    if (!Files.exists(p)) return 0L
    val st = Files.walk(p)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      val k = f.toString
      val sig = (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      if (seen.get(k).contains(sig)) 0L else { seen(k) = sig; sig._1 }
    }.sum finally st.close()
  }

  private def dirBytes(t: String): Long = {
    val st = Files.walk(Paths.get(t))
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  private def timed[T](name: String)(body: => T): (T, Double) = {
    val t = Clock.now()
    val v = Spans.span(name)(body)
    (v, Clock.now() - t)
  }

  /** A seeded DV update predicate over a batch-sized key range. */
  private def pick(): (Long => Boolean, org.apache.spark.sql.Column) = {
    val lo = rng.nextInt(math.max(1, nextKey.toInt - batchRows)).toLong
    val hi = lo + batchRows
    val m = 3 + rng.nextInt(5)
    val r = rng.nextInt(m).toLong
    ((k: Long) => k >= lo && k < hi && k % m == r,
      col("k") >= lo && col("k") < hi && col("k") % m === r)
  }

  def op(rec: OpRec): Option[String] = {
    val s = spark
    import s.implicits._
    if (cycle % epochCycles == 0) newTable()
    cycle += 1
    val batch = (0 until batchRows).map(i => (nextKey + i, rng.nextInt(1000).toLong))
    nextKey += batchRows
    val (_, appendS) = timed("sources.commit") {
      DeltaLogWriter.write(batch.toDF("k", "v").repartition(2), table)
    }
    batch.foreach { case (k, v) => state(k) = v }
    // the append's new files are the parquet bytes of the rows submitted
    val addBytes = newBytes()
    val (updHit, updCond) = pick()
    val (_, updateS) = timed("sources.commit") {
      DeltaDml.updateDv(spark, table, updCond, Map("v" -> (col("v") + 1)))
    }
    state.keys.filter(updHit).toSeq.foreach(k => state(k) += 1)
    val checkpointed = DeltaLogReader.lastCheckpointVersion(spark, table).getOrElse(-1L)
    val logEntries = Option(new File(s"$table/_delta_log").listFiles()).getOrElse(Array.empty)
      .map(_.getName).count(n => n.endsWith(".json") && n.take(20).forall(_.isDigit) &&
        n.take(20).toLong > checkpointed)
    val (snap, snapS) = timed("sources.snapshot") { DeltaLogReader.read(spark, table) }
    val (agg, aggS) = timed("sources.read") {
      snap.agg(count(lit(1)), coalesce(sum("k"), lit(0L)), coalesce(sum("v"), lit(0L))).collect()(0)
    }
    val ckptS = if (cycle % checkpointCycles != 0) 0.0
      else timed("sources.checkpoint") { DeltaLogWriter.checkpoint(spark, table) }._2
    rec.sub.put("commit_s", appendS + updateS + ckptS).put("read_s", snapS + aggS)
      .put("log_entries", logEntries).put("live_files", snap.inputFiles.length)
      .put("bytes_written", addBytes + newBytes()).put("submitted_bytes", addBytes)
    val exp = (state.size.toLong, state.keys.sum, state.values.sum)
    val got = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    if (exp != got) Some(s"read-your-writes mismatch: expected (rows, key sum, value sum) $exp, read $got")
    else None
  }

  override def finish(out: ObjectNode): Unit = {
    // space: bytes on disk over the parquet bytes of each table's live rows
    var dir = 0L; var live = 0L
    tables.filter(t => new File(t).exists).foreach { t =>
      dir += dirBytes(t)
      val tmp = s"$t-live"
      DeltaLogReader.read(spark, t).coalesce(1).write.parquet(tmp)
      live += Option(new File(tmp).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    out.putObject("lake").put("dir_bytes", dir).put("live_bytes", live).put("tables", tables.size)
  }
}
