package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.api.{CdcStreamSink, Destination}
import graft.cdc._
import graft.tables.TableStore

/** One `orders` row. */
final case class Order(key: Long, cust: Long, status: String, price: Double,
    dateMs: Long, prio: String) {
  private def date = Order.fmt.format(java.time.Instant.ofEpochMilli(dateMs))
  def json: String =
    s"""{"o_orderkey":$key,"o_custkey":$cust,"o_orderstatus":"$status",""" +
      s""""o_totalprice":$price,"o_orderdate":"$date","o_orderpriority":"$prio"}"""
  def fields: Map[String, Any] = Map("o_orderkey" -> key, "o_custkey" -> cust,
    "o_orderstatus" -> status, "o_totalprice" -> price,
    "o_orderdate" -> new java.sql.Timestamp(dateMs), "o_orderpriority" -> prio)
}
object Order {
  val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    .withZone(java.time.ZoneOffset.UTC)
  val Statuses = Array("F", "O", "P")
  val Prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  def of(r: Row): Order = Order(r.getLong(0), r.getLong(1), r.getString(2),
    r.getDouble(3), r.getTimestamp(4).getTime, r.getString(5))
}

/** The ingest load generator and its own last-write-wins model of the
  * table. The model is kept from the generated changes alone; it never
  * asks graft.cdc what a change means. */
final class Gen(seed: Long, initial: Seq[Order]) {
  private val rnd = new java.util.SplittableRandom(seed)
  val model = mutable.HashMap.empty[Long, Order]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  var nextKey: Long = 0L
  var ingestedBytes = 0L
  private var position = 0L
  initial.foreach(put)
  nextKey = if (keys.isEmpty) 0L else keys.max + 1

  private def put(o: Order): Unit = {
    if (!model.contains(o.key)) { pos(o.key) = keys.size; keys += o.key }
    model(o.key) = o
  }
  private def remove(k: Long): Unit = {
    model.remove(k)
    val i = pos.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; pos(last) = i }
  }

  private def row(k: Long): Order = Order(k, rnd.nextLong(15000L),
    Order.Statuses(rnd.nextInt(3)), math.round(rnd.nextDouble(1000.0, 500000.0) * 100) / 100.0,
    (9131L + rnd.nextInt(2404)) * 86400000L, Order.Prios(rnd.nextInt(5)))

  /** A live key: skewed toward the newest keys, or uniform over all. */
  private def live(recent: Boolean): Long =
    if (!recent) keys(rnd.nextInt(keys.size))
    else {
      var k = -1L; var tries = 0
      while (k < 0 && tries < 64) {
        val c = nextKey - 1 - (-math.log(1.0 - rnd.nextDouble()) * 3000).toLong
        if (model.contains(c)) k = c
        tries += 1
      }
      if (k < 0) keys(rnd.nextInt(keys.size)) else k
    }

  /** `n` changes: 70% updates, 20% inserts of new keys, 10% deletes.
    * About one record in twenty reuses a key already changed in the
    * same batch. Half the payloads are raw JSON, half structured. */
  def batch(n: Int, recent: Boolean): Seq[(CdcOp, Long, Option[Order])] = {
    val seen = mutable.ArrayBuffer.empty[Long]
    (0 until n).map { _ =>
      val u = rnd.nextDouble()
      def pick(): Long =
        if (seen.nonEmpty && rnd.nextDouble() < 0.05) {
          val k = seen(rnd.nextInt(seen.size))
          if (model.contains(k)) k else live(recent)
        } else live(recent)
      val ch =
        if (u < 0.2 || keys.size < 100) {
          val o = row(nextKey); nextKey += 1; put(o); (CdcOp.Create, o.key, Some(o))
        } else if (u < 0.9) {
          val o = row(pick()); put(o); (CdcOp.Update, o.key, Some(o))
        } else {
          val k = pick(); remove(k); (CdcOp.Delete, k, None)
        }
      seen += ch._2
      ingestedBytes += keyJson(ch._2).length + ch._3.map(_.json.length).getOrElse(0)
      ch
    }
  }

  def keyJson(k: Long): String = s"""{"o_orderkey":$k}"""

  def records(changes: Seq[(CdcOp, Long, Option[Order])]): Seq[CdcRecord] =
    changes.map { case (op, k, o) =>
      position += 1
      val structured = rnd.nextBoolean()
      CdcRecord(position.toString.getBytes("UTF-8"), op,
        key = Some(if (structured) StructuredData(Map("o_orderkey" -> k)) else RawData(keyJson(k))),
        after = o.map(r => if (structured) StructuredData(r.fields) else RawData(r.json)))
    }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

/** The ingest workloads. */
object Ingest {
  val Table = "orders"
  val KeyCols = Seq("o_orderkey")

  private final class Ctx(val spark: SparkSession, val a: Args, val spans: Spans,
      val o: Outcome, val tracer: Option[Tracer]) {
    val storeRoot: Path = a.work.resolve("store")
    val tableDir: Path = storeRoot.resolve(Table)
    val store = new TableStore(spark, storeRoot.toString)
    // every file version ever seen in the table directory
    private val seenFiles = mutable.HashSet.empty[(String, Long, Long)]
    var bytesAdded = 0L
    def noteFiles(): Int = {
      var created = 0
      Dir.files(tableDir).foreach { case (p, (size, mtime)) =>
        if (seenFiles.add((p, size, mtime))) { bytesAdded += size; created += 1 }
      }
      created
    }
  }

  private def seedOrders(spark: SparkSession, a: Args): DataFrame =
    spark.read.parquet(a.data.resolve("orders.parquet").toString)
      // the fixture file spells a zone-less timestamp; the table keeps
      // instants, as the reference's timestamptz column does
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))

  /** Creates the zone- and bloom-indexed table from the seed rows in
    * tens of key-clustered files; returns seconds taken. */
  private def createTable(c: Ctx, seed: DataFrame, mor: Boolean): Double = {
    val t0 = System.nanoTime()
    c.store.create(Table, seed.schema, overwrite = true,
      zoneCols = KeyCols, bloomCols = KeyCols)
    if (mor) c.store.setProperties(Table, Map("write.merge.mode" -> Some("merge-on-read")))
    // 32 key-ranged files: keep adaptive execution from coalescing the
    // range partitions of this one seeding write
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    c.spark.conf.set(coalesce, "false")
    try c.store.append(Table, seed.repartitionByRange(32, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey"))
    finally c.spark.conf.unset(coalesce)
    (System.nanoTime() - t0) / 1e9
  }

  private def setup(c: Ctx, mor: Boolean): Gen = {
    val seed = seedOrders(c.spark, c.a).cache()
    val initial = seed.collect().map(Order.of).toSeq
    c.o.fixtureRepsS = (1 to 3).map(_ => createTable(c, seed, mor))
    seed.unpersist()
    new Gen(c.a.seed, initial)
  }

  /** Per-ack table-layer observations of a traced run, taken outside
    * the ack's span: file listings before and after, and the pruning
    * the table layer would do for this batch's keys. */
  private final class Probe(c: Ctx) {
    var before: Set[String] = Set.empty
    var version = 0
    var candidates = 0
    def pre(keys: Seq[Long]): Unit = if (c.tracer.isDefined) c.spans.time("probe", "probe") {
      before = c.store.currentRelPaths(Table).toSet
      version = c.store.currentVersion(Table)
      val kdf = c.spark.createDataFrame(keys.distinct.map(Tuple1(_))).toDF("o_orderkey")
      candidates = c.store.candidateFilesForKeys(Table, kdf, KeyCols).size
    }
    def post(s: Span, created: Int, maint: mutable.Map[String, Int]): Unit = {
      s.attrs("io.files_created") = created
      if (c.tracer.isDefined) c.spans.time("probe", "probe") {
        val after = c.store.currentRelPaths(Table).toSet
        val added = after -- before
        val v = c.store.currentVersion(Table)
        s.attrs("tables.snapshot_files") = before.size
        s.attrs("tables.candidate_files") = candidates
        s.attrs("tables.files_removed") = (before -- after).size
        s.attrs("tables.files_added") = added.size
        val sizes = Dir.files(c.tableDir)
        s.attrs("tables.bytes_added") = added.toSeq.map(rel =>
          sizes.collectFirst { case (p, (n, _)) if p.endsWith("/" + rel) => n }.getOrElse(0L)).sum.toDouble
        s.attrs("tables.commits_per_ack") = v - version
        val ops = (version + 2 to v).map(x =>
          c.store.commitMeta(Table, x).getOrElse("operation", "untagged"))
        s.attrs("tables.maint_commits") = ops.size
        ops.foreach(op => maint(op) = maint.getOrElse(op, 0) + 1)
        s.attrs("tables.pending_deletes") = c.store.pendingDeletes(Table)
      }
    }
  }

  private def sameRows(got: Seq[Order], want: Seq[Order]): Boolean =
    got.sortBy(_.key) == want.sortBy(_.key)

  /** Final check: the whole table equals the model. */
  private def finalCheck(c: Ctx, g: Gen): Unit = {
    val rows = c.store.read(Table)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority").collect().map(Order.of)
    val got = rows.map(r => r.key -> r).toMap
    def h(o: Order) = scala.util.hashing.MurmurHash3.productHash(o).toLong & 0xffffffffL
    c.o.check(rows.length == g.model.size,
      s"final store.read: ${rows.length} rows, model has ${g.model.size}")
    val bad = g.model.valuesIterator.filter(m => !got.get(m.key).contains(m)).map(_.key).take(5).toSeq
    c.o.check(bad.isEmpty && got.keySet.forall(g.model.contains),
      s"final store.read: rows differ from the model, e.g. keys ${bad.mkString(",")}")
    c.o.extra("final_rows") = rows.length
    c.o.extra("final_hash") = rows.map(h).sum
    c.o.extra("model_hash") = g.model.valuesIterator.map(h).sum
  }

  private def ingestMetrics(c: Ctx, g: Gen, acks: Seq[Span], records: Long,
      ingested0: Long, bytes0: Long): Unit = {
    val ms = acks.map(_.ms)
    val (tail, pct) = Stats.tail(ms)
    c.o.e2e("ingest_rec_per_s") = records / (ms.sum / 1000.0)
    c.o.e2e("ack_p50_ms") = Stats.median(ms)
    c.o.e2e("ack_tail_ms") = tail
    c.o.extra("ack_tail_percentile") = pct
    c.o.extra("acks") = acks.size
    c.o.extra("records") = records
    c.o.e2e("write_amp") = (c.bytesAdded - bytes0).toDouble / (g.ingestedBytes - ingested0)
    c.o.e2e("table_bytes_per_row") = Dir.bytes(c.tableDir).toDouble / g.model.size
    c.o.e2e("throughput_per_s") = c.o.e2e("ingest_rec_per_s")
    c.o.e2e("op_p50_ms") = c.o.e2e("ack_p50_ms")
    c.o.e2e("op_tail_ms") = Stats.slowHalfMedian(ms)
    c.o.extra("ack_ms") = ms
    c.o.extra("tables.live_files_end") = c.store.currentRelPaths(Table).size
    c.o.extra("tables.dir_bytes_end") = Dir.bytes(c.tableDir)
  }

  /** Writes batches through `Destination`: `warm` untimed acks, then
    * at least `minAcks` timed ones in whole cycles of `cycle` acks. */
  private def destination(spark: SparkSession, a: Args, spans: Spans, o: Outcome,
      tracer: Option[Tracer], batch: Int, mor: Boolean, warm: Int, minAcks: Int,
      cycle: Int = 1)(
      afterAck: (Ctx, Gen, Seq[(CdcOp, Long, Option[Order])]) => Unit): Unit = {
    val c = new Ctx(spark, a, spans, o, tracer)
    val g = setup(c, mor)
    val params = Map("store.root" -> c.storeRoot.toString, "table" -> Table,
      "key.columns" -> "o_orderkey") ++
      // two delete entries allowed: in steady state the acks repeat in
      // cycles of four (sidecar merge, delete fold, plain, small-file pack)
      (if (mor) Map("maintenance.auto" -> "true", "maintenance.files" -> "true",
        "maintenance.max_entries" -> "2") else Map())
    val stream = Destination.open(spark, Destination.configure(params).get)
    val probe = new Probe(c)
    val maint = mutable.LinkedHashMap.empty[String, Int]
    // the delete-maintenance action each measured ack ran
    val actions = mutable.ArrayBuffer.empty[String]
    def ack(kind: String): Option[Span] = {
      val ch = g.batch(batch, recent = !mor)
      val recs = g.records(ch)
      if (kind == "ack") probe.pre(ch.map(_._2))
      val (r, s) = Timed(c.spans, c.tracer.isDefined, "writeBatch", kind)(stream.writeBatch(recs))
      c.o.check(r.isSuccess, s"writeBatch of ${recs.size} records failed: ${r.failed.map(_.toString).getOrElse("")}")
      val created = c.noteFiles()
      if (kind == "ack") {
        probe.post(s, created, maint)
        actions += stream.lastMaintenance.map(_.map(_._1).getOrElse("failed")).getOrElse("off")
      }
      afterAck(c, g, ch)
      if (r.isSuccess) Some(s) else None
    }
    c.noteFiles()
    (1 to warm).foreach(_ => ack("warmup"))
    val ingested0 = g.ingestedBytes
    val bytes0 = c.bytesAdded
    val acks = mutable.ArrayBuffer.empty[Span]
    Measure(c.o) {
      // whole cycles of `cycle` acks; another cycle only if one as long
      // as the last would end in time
      val end = Clock.nowMs + a.seconds * 1000
      var cycleStart = Clock.nowMs
      var cycleMs = 0.0
      while (acks.size < minAcks || acks.size % cycle != 0 || Clock.nowMs + cycleMs <= end) {
        ack("ack").foreach(acks += _)
        if (acks.size % cycle == 0) {
          cycleMs = Clock.nowMs - cycleStart
          cycleStart = Clock.nowMs
        }
      }
    }
    ingestMetrics(c, g, acks.toSeq, acks.size.toLong * batch, ingested0, bytes0)
    o.extra("maintenance_commits_by_operation") = maint
    o.extra("ack_maintenance") = actions
    stream.lastMaintenance.foreach(m => o.extra("last_maintenance") = m.toString)
    stream.lastFilePack.foreach(m => o.extra("last_file_pack") = m.toString)
    finalCheck(c, g)
  }

  def small(spark: SparkSession, a: Args, spans: Spans, o: Outcome, tracer: Option[Tracer]): Unit =
    destination(spark, a, spans, o, tracer, batch = 100, mor = false, warm = 2, minAcks = 3)((_, _, _) => ())

  /** After every ack: a point lookup, a ~1% key-range scan and a
    * grouped aggregate, through the GraftCatalog SQL surface, each
    * checked against the model. */
  def bulkMor(spark: SparkSession, a: Args, spans: Spans, o: Outcome, tracer: Option[Tracer]): Unit = {
    val reads = mutable.ArrayBuffer.empty[Span]
    var measuring = false
    // the warmup runs the first delete fold (third ack) and the first
    // small-file pack (fifth ack), so those paths are warm; then whole
    // cycles are measured, so every run times the same mix of acks
    destination(spark, a, spans, o, tracer, batch = 10000, mor = true, warm = 5,
        minAcks = 4, cycle = 4) { (c, g, ch) =>
      measuring = measuring || c.o.measureStartMs > 0
      val kind = if (measuring) "read" else "warmup"
      val k = ch(g.nextInt(ch.size))._2
      val span = math.max(1L, g.nextKey / 100)
      val lo = (g.nextInt(math.max(1, (g.nextKey - span).toInt)): Long)
      def timed(name: String, sql: String): Array[Row] = {
        val (rows, s) = Timed(c.spans, c.tracer.isDefined, name, kind)(spark.sql(sql).collect())
        if (measuring) reads += s
        rows
      }
      val point = timed("point", s"SELECT * FROM gc.$Table WHERE o_orderkey = $k")
      c.o.check(sameRows(point.map(Order.of).toSeq, g.model.get(k).toSeq),
        s"point read of key $k differs from the model")
      val range = timed("range",
        s"SELECT * FROM gc.$Table WHERE o_orderkey BETWEEN $lo AND ${lo + span - 1}")
      c.o.check(sameRows(range.map(Order.of).toSeq,
        g.model.valuesIterator.filter(r => r.key >= lo && r.key < lo + span).toSeq),
        s"range read [$lo, ${lo + span}) differs from the model")
      val agg = timed("agg", s"SELECT o_orderstatus, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s, " +
        s"count(*) AS n FROM gc.$Table GROUP BY o_orderstatus")
      // exact sums in cents: every generated price has two decimals
      val cents = mutable.HashMap.empty[String, (Long, Long)]
      g.model.valuesIterator.foreach { r =>
        val (c0, n0) = cents.getOrElse(r.status, (0L, 0L))
        cents(r.status) = (c0 + math.round(r.price * 100), n0 + 1)
      }
      val want = cents.map { case (st, (c0, n0)) => (st, BigDecimal(c0, 2), n0) }.toSet
      val got = agg.map(r => (r.getString(0), BigDecimal(r.getDecimal(1)), r.getLong(2))).toSet
      c.o.check(got == want, "grouped aggregate differs from the model")
    }
    val byKind = reads.groupBy(_.name)
    val ms = reads.map(_.ms).toSeq
    o.e2e("read_p50_ms") = Stats.median(ms)
    val (tail, pct) = Stats.tail(ms)
    o.e2e("read_tail_ms") = tail
    o.extra("read_tail_percentile") = pct
    o.extra("reads") = reads.size
    byKind.foreach { case (k, ss) => o.extra(s"read_${k}_p50_ms") = Stats.median(ss.map(_.ms).toSeq) }
  }

  /** `CdcStreamSink` fed from a memory source, one 1,000-record
    * micro-batch per push, `processAllAvailable()` after each. */
  def stream(spark: SparkSession, a: Args, spans: Spans, o: Outcome, tracer: Option[Tracer]): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val c = new Ctx(spark, a, spans, o, tracer)
    val g = setup(c, mor = false)
    implicit val enc: org.apache.spark.sql.Encoder[Env] = Encoders.product[Env]
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Env]
    val q = CdcStreamSink.attach(spark, source.toDF(), c.store,
      CdcApply.CdcConfig(Table, KeyCols), seqCol = Some("seq"), sinkId = "perfbench")
      .option("checkpointLocation", a.work.resolve("ckpt").toString)
      .start()
    var seq = 0L
    val probe = new Probe(c)
    val maint = mutable.LinkedHashMap.empty[String, Int]
    def push(kind: String): Option[Span] = {
      val ch = g.batch(1000, recent = true)
      val rows = ch.map { case (op, k, r) =>
        seq += 1
        Env(seq, op.toString.toLowerCase, g.keyJson(k), r.map(_.json).orNull)
      }
      if (kind == "microbatch") probe.pre(ch.map(_._2))
      val (r, s) = Timed(c.spans, c.tracer.isDefined, "microbatch", kind)(scala.util.Try {
        source.addData(rows)
        q.processAllAvailable()
      })
      c.o.check(r.isSuccess, s"micro-batch of ${rows.size} records failed: ${r.failed.map(_.toString).getOrElse("")}")
      val created = c.noteFiles()
      if (kind == "microbatch") probe.post(s, created, maint)
      if (r.isSuccess) Some(s) else None
    }
    c.noteFiles()
    (1 to 4).foreach(_ => push("warmup"))
    val ingested0 = g.ingestedBytes
    val bytes0 = c.bytesAdded
    val batches = mutable.ArrayBuffer.empty[Span]
    val firstBatchId = q.lastProgress match { case null => 0L; case p => p.batchId + 1 }
    Measure(c.o) {
      val end = Clock.nowMs + a.seconds * 1000
      while ((Clock.nowMs < end || batches.size < 3) && q.isActive) push("microbatch").foreach(batches += _)
    }
    q.stop()
    o.extra("first_measured_batch_id") = firstBatchId
    ingestMetrics(c, g, batches.toSeq, batches.size * 1000L, ingested0, bytes0)
    o.extra("maintenance_commits_by_operation") = maint
    finalCheck(c, g)
  }
}

/** One envelope row of the streaming source. */
final case class Env(seq: Long, op: String, key: String, payload: String)
