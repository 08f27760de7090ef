package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.command.{Value, Json => Wire}
import graft.engine.{GraftDb, ReadLevel, SqlText}
import graft.server.HttpApi

/** The OLTP workload `oltp-mixed`, driven through `HttpApi` over loopback
  * (untraced) or in process through `Json` → `SqlText.bind` → `GraftDb` →
  * `Json` (traced), on a disk-backed database under the run's output
  * directory.
  *
  *  - Mixed phase: a closed loop with one client over a table preloaded
  *    with [[PreloadRows]] rows: 70% point reads (`/db/query`, weak), 20%
  *    single-row INSERTs, 10% primary-key UPDATEs, keys Zipf-distributed
  *    over the preloaded ids. An open loop at half the engine's capacity
  *    (an update takes about a second over HTTP on 4 cores) sees too few
  *    requests in a run to give steady medians, so each request is sent
  *    when the last one returns.
  *  - Bulk phase: one client sends [[BulkBatches]] transactional batches of
  *    [[BulkBatchRows]] single-row INSERTs into a fresh table.
  *  - Durability: checkpoint, a fixed journal suffix, close and reopen;
  *    the table must match the model before and after.
  *
  * The engine's flush policy is unchanged: each journal line is written
  * and flushed to the OS (no fsync), and the engine checkpoints every 512
  * journal batches. */
object Oltp {
  val PreloadRows = 10000
  /** Nominal requests per second of the mixed phase on 4 cores: a run
    * sends `seconds` times this many, whatever their speed, so every run
    * does the same work. */
  val NominalRate = 5
  val ZipfExponent = 0.99
  val BulkBatches = 4
  val BulkBatchRows = 1000
  val SetupReps = 3
  /** One deck of ten operations, shuffled per deck: the mix is exact in
    * every block of ten requests. */
  val Deck: Seq[String] = Seq.fill(7)("read") ++ Seq.fill(2)("insert") :+ "update"

  private val mapper = new ObjectMapper()

  final case class Op(i: Int, kind: String, body: String,
                      key: Long = 0, k: Long = 0, value: String = "") {
    def path: String = if (kind == "read") "/db/query?level=weak" else "/db/execute"
  }

  final case class Done(op: Op, status: Int, body: String, start: Double,
                        end: Double, children: Seq[(String, Double, Double)])

  private def stmt(sql: String, params: String*): String =
    s"""{"sql":${Wire.escapeQ(sql)},"parameters":[${params.mkString(",")}]}"""
  private def int(v: Long): String = s"""{"Integer":$v}"""
  private def text(v: String): String = s"""{"Text":${Wire.escapeQ(v)}}"""
  private def request(tx: Boolean, stmts: Seq[String]): String =
    s"""{"request":{"transaction":$tx,"statements":[${stmts.mkString(",")}]}}"""

  def readBody(id: Long): String =
    request(tx = false, Seq(stmt("SELECT v FROM kv WHERE id = ?", int(id))))
  def insertBody(id: Long, k: Long, v: String): String =
    request(tx = false, Seq(stmt("INSERT INTO kv (id, k, v) VALUES (?, ?, ?)", int(id), int(k), text(v))))
  def updateBody(id: Long, v: String): String =
    request(tx = false, Seq(stmt("UPDATE kv SET v = ? WHERE id = ?", text(v), int(id))))

  def preloadValue(id: Long): String = f"p$id%09d"

  // ---------------------------------------------------------------- engine

  /** The database plus the two ways to reach it. */
  final class Endpoint(val db: GraftDb, ctx: Ctx) {
    private val api = new HttpApi(db, port = 0)
    api.start()
    private val base = s"http://127.0.0.1:${api.listeningPort}"
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    def ping(): Int =
      http.send(HttpRequest.newBuilder(URI.create(base + "/ping")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()

    def viaHttp(op: Op): Done = {
      val t0 = Clock.nowMs()
      val res = http.send(HttpRequest.newBuilder(URI.create(base + op.path))
        .POST(HttpRequest.BodyPublishers.ofString(op.body)).build(),
        HttpResponse.BodyHandlers.ofString())
      Done(op, res.statusCode(), res.body(), t0, Clock.nowMs(), Nil)
    }

    /** The HTTP handler's steps, called directly, each timed as a span. */
    def inProcess(op: Op): Done = {
      val kids = mutable.ArrayBuffer[(String, Double, Double)]()
      val rid = ctx.trace.newId()
      def step[A](layer: String)(f: => A): A = {
        val a = Clock.nowMs()
        try f finally {
          val b = Clock.nowMs()
          kids += ((layer, a, b))
          ctx.trace.add(ctx.trace.newId(), rid, layer, s"${op.kind}#${op.i}", a, b)
        }
      }
      val t0 = Clock.nowMs()
      val (status, body) = step("command.decode")(Wire.parseRequest(op.body)) match {
        case Left(err) => (400, err)
        case Right(req) =>
          step("engine.bind")(req.statements.foreach(s => SqlText.bind(s.sql, s.parameters)))
          if (op.kind == "read")
            step("engine")(db.query(req, ReadLevel.Weak)) match {
              case Right(rs) => (200, step("command.encode")(Wire.rowsSeq(rs)))
              case Left(err) => (400, err)
            }
          else
            step("engine")(db.execute(req)) match {
              case Right(rs) => (200, step("command.encode")(Wire.responses(rs)))
              case Left(err) => (400, err)
            }
      }
      val t1 = Clock.nowMs()
      ctx.trace.add(rid, 0, "request", s"${op.kind}#${op.i}", t0, t1)
      Done(op, status, body, t0, t1, kids.toSeq)
    }

    def call(op: Op): Done = if (ctx.trace.enabled) inProcess(op) else viaHttp(op)

    def close(): Unit = {
      api.stop()
      db.close()
    }
  }

  private def open(ctx: Ctx, dir: Path): GraftDb =
    GraftDb.open(ctx.spark, dir.toString).fold(e => sys.error(s"open $dir: $e"), identity)

  private def exec(db: GraftDb, sql: String): Unit =
    db.executeStringStmt(sql) match {
      case Right(rs) if rs.forall(_.error.isEmpty) =>
      case other => sys.error(s"$sql: $other")
    }

  /** Set up `SetupReps` times from an empty directory, keeping the last:
    * open the database and run `prepare`. Reports the median as setup_s. */
  private def setup(ctx: Ctx, prepare: GraftDb => Unit): (GraftDb, Path) = {
    val times = mutable.ArrayBuffer[Double]()
    var kept: (GraftDb, Path) = null
    (1 to SetupReps).foreach { rep =>
      val dir = ctx.outDir.resolve(s"db-$rep")
      Files.createDirectories(dir.getParent)
      deleteTree(dir)
      val t0 = System.nanoTime()
      val db = open(ctx, dir)
      prepare(db)
      times += (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) { db.close(); deleteTree(dir) } else kept = (db, dir)
    }
    ctx.report.metric("setup_s", Stats.median(times.toSeq), "s", SetupReps,
      inSummary = !ctx.trace.enabled)
    kept
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  // ------------------------------------------------------------ responses

  private def parse(body: String): Option[JsonNode] =
    try Some(mapper.readTree(body)) catch { case _: Exception => None }

  /** Rows affected by a one-statement execute, or the error. */
  private def affected(d: Done): Either[String, Long] =
    if (d.status != 200) Left(s"HTTP ${d.status}: ${d.body.take(200)}")
    else parse(d.body) match {
      case Some(a) if a.isArray && a.size == 1 && !a.get(0).has("error") =>
        Right(a.get(0).path("rows_affected").asLong(0))
      case _ => Left(s"bad response ${d.body.take(200)}")
    }

  /** The single `v` returned by a point read, or the error. */
  private def readValue(d: Done): Either[String, String] =
    if (d.status != 200) Left(s"HTTP ${d.status}: ${d.body.take(200)}")
    else parse(d.body).map(_.path(0).path("values")) match {
      case Some(vs) if vs.isArray && vs.size == 1 => Right(vs.get(0).get(0).asText())
      case _ => Left(s"bad response ${d.body.take(200)}")
    }

  /** Model of table `kv`: what every acknowledged write left behind.
    * Requests go one at a time, so each read has exactly one right answer. */
  final class Model {
    val rows = mutable.HashMap[Long, (Long, String)]()

    /** Check a response and apply its write; the reason when it is wrong. */
    def apply(d: Done): Option[String] = d.op.kind match {
      case "read" => readValue(d) match {
        case Right(v) if rows.get(d.op.key).exists(_._2 == v) => None
        case Right(v) => Some(s"read '$v' for id ${d.op.key}, expected ${rows.get(d.op.key)}")
        case Left(e) => Some(e)
      }
      case kind => affected(d) match {
        case Right(1) =>
          rows(d.op.key) = (if (kind == "insert") d.op.k else rows(d.op.key)._1, d.op.value)
          None
        case Right(x) => Some(s"rows_affected $x")
        case Left(e) => Some(e)
      }
    }

    /** Bytes of user data: two 8-byte integers and the text of each row. */
    def liveBytes: Long = rows.values.map(16L + _._2.length).sum
  }

  /** Compare the whole table with the model; one failure per check, so a
    * lost or changed row after a restart shows as a failed check. */
  private def checkTable(ctx: Ctx, db: GraftDb, model: Model, label: String): Unit = {
    val r = ctx.report
    r.attempted += 1
    db.queryStringStmt("SELECT id, k, v FROM kv") match {
      case Left(e) => r.fail(s"$label: $e")
      case Right(rs) =>
        val got = rs.head.values.map { row =>
          val Seq(Value.Integer(id), Value.Integer(k), Value.Text(v)) = row
          id -> (k, v)
        }.toMap
        val differ = model.rows.count { case (id, kv) => !got.get(id).contains(kv) }
        if (got.size != model.rows.size || differ > 0)
          r.fail(s"$label: ${got.size} rows vs ${model.rows.size} expected, $differ differ")
    }
  }

  // ------------------------------------------------------------ oltp-mixed

  /** The seeded request stream: one shuffled [[Deck]] per ten requests,
    * Zipf keys over a seeded permutation of the preloaded ids, fresh ids
    * for inserts. With `selfTest` the first read names a missing table. */
  def stream(seed: Long, selfTest: Boolean): Iterator[Op] = {
    val rng = new scala.util.Random(seed)
    val perm = rng.shuffle((1L to PreloadRows).toVector)
    val cdf = {
      val w = (1 to PreloadRows).map(r => 1.0 / math.pow(r, ZipfExponent))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def zipfKey(): Long = {
      val idx = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      perm(math.min(if (idx >= 0) idx else -idx - 1, PreloadRows - 1))
    }
    var inserts = 0L
    Iterator.continually(rng.shuffle(Deck)).flatten.zipWithIndex.map {
      case ("read", 0) if selfTest =>
        Op(0, "read", request(tx = false, Seq(stmt("SELECT v FROM no_such_table WHERE id = ?", int(1)))), 1)
      case ("read", i) =>
        val id = zipfKey(); Op(i, "read", readBody(id), id)
      case ("insert", i) =>
        inserts += 1
        val id = PreloadRows + inserts
        val k = rng.nextInt(1000).toLong
        Op(i, "insert", insertBody(id, k, f"i$i%09d"), id, k, f"i$i%09d")
      case (_, i) =>
        val id = zipfKey()
        Op(i, "update", updateBody(id, f"u$i%09d"), id, 0, f"u$i%09d")
    }
  }

  private def preload(db: GraftDb): Unit = {
    exec(db, "CREATE TABLE kv (id INTEGER PRIMARY KEY, k INTEGER NOT NULL, v TEXT NOT NULL)")
    (1L to PreloadRows by 1000).foreach { s =>
      val rows = (s until math.min(s + 1000, PreloadRows + 1L))
        .map(id => s"($id, ${id % 1000}, '${preloadValue(id)}')").mkString(",")
      exec(db, s"INSERT INTO kv (id, k, v) VALUES $rows")
    }
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val (db0, dir) = setup(ctx, preload)
    val model = new Model
    (1L to PreloadRows).foreach(id => model.rows(id) = (id % 1000, preloadValue(id)))
    val ep = new Endpoint(db0, ctx)
    val failedOps = mutable.Set[Int]()
    def send(op: Op): Done = {
      val d = ep.call(op)
      r.attempted += 1
      model.apply(d).foreach { why => failedOps += op.i; r.fail(s"${op.kind} #${op.i}: $why") }
      d
    }

    // warm the request path (JIT, generated code) outside the timed window
    (0 until 12).foreach(i => send(Op(-1 - i, "read", readBody(PreloadRows - i), PreloadRows - i)))
    (0 until 4).foreach(i => send(Op(-100 - i, "insert", insertBody(900000L + i, 7, "warm"), 900000L + i, 7, "warm")))
    (0 until 3).foreach(i => send(Op(-200 - i, "update", updateBody(PreloadRows - 20 - i, "warm"), PreloadRows - 20 - i, 0, "warm")))
    r.progress("set up and warm")

    // ---- the measured requests: one client, each sent when the last returned
    val ops = stream(ctx.seed, ctx.selfTest)
    val journal = dir.resolve("journal.jsonl")
    def journalSize = if (Files.exists(journal)) Files.size(journal) else 0L
    val journal0 = journalSize
    val done = ops.take(math.max(20, ctx.seconds * NominalRate)).map(send).toVector
    val journalBytes = journalSize - journal0
    r.progress(s"${done.size} requests done")
    checkTable(ctx, db0, model, "final table")

    // ---- latency per kind; a failed request counts as +infinity
    def ms(d: Done) = if (failedOps(d.op.i)) Double.PositiveInfinity else d.end - d.start
    val byKind = done.groupBy(_.op.kind)
    if (!ctx.trace.enabled) {
      Seq("read", "insert", "update").foreach { kind =>
        val xs = byKind.getOrElse(kind, Nil).map(ms)
        if (xs.nonEmpty) {
          r.metric(s"${kind}_p50_ms", Stats.median(xs), "ms", xs.size)
          val (t, pct) = Stats.tail(xs)
          r.metric(s"${kind}_tail_ms", t, "ms", xs.size)
          r.note(s"${kind}_tail_percentile", f"$pct%.1f")
        }
      }
      r.metric("typical_ms", Stats.median(done.map(ms)), "ms", done.size, inSummary = true)
      val shares = Deck.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / Deck.size }
      r.metric("mean_op_ms", shares.map { case (kind, share) =>
        share * byKind.get(kind).map(ds => Stats.median(ds.map(ms))).getOrElse(Double.PositiveInfinity)
      }.sum, "ms", done.size, inSummary = true)
      inProcessReads(ctx, ep, model)
    } else {
      traceOps(ctx, done.filterNot(d => failedOps(d.op.i)))
      val writes = done.count(_.op.kind != "read")
      r.metric("engine.journal_bytes_per_write", journalBytes.toDouble / math.max(1, writes), "B", writes)
      serverOverhead(ctx, ep, model)
      Layers.codegen(r, done.size)
    }

    bulkPhase(ctx, ep, db0)
    r.progress("bulk phase done")

    // ---- durability: checkpoint, a fixed journal suffix, restart
    val v0 = manifestVersion(dir)
    val c0 = System.nanoTime()
    db0.checkpoint().left.foreach(e => r.fail(s"checkpoint: $e"))
    val checkpointS = (System.nanoTime() - c0) / 1e9
    val rng = new scala.util.Random(ctx.seed ^ 0x5eedL)
    (0 until 8).foreach { i =>
      val id = 800000L + i; val k = rng.nextInt(1000).toLong
      send(Op(-300 - i, "insert", insertBody(id, k, s"s$i"), id, k, s"s$i"))
    }
    (0 until 2).foreach { i =>
      val id = 1L + rng.nextInt(PreloadRows)
      send(Op(-400 - i, "update", updateBody(id, s"t$i"), id, 0, s"t$i"))
    }
    ep.close()
    r.progress("suffix written")
    val o0 = System.nanoTime()
    val db1 = open(ctx, dir)
    val reopenS = (System.nanoTime() - o0) / 1e9
    checkTable(ctx, db1, model, "table after reopen")
    db1.checkpoint().left.foreach(e => r.fail(s"checkpoint: $e"))
    val spaceAmp = treeBytes(dir).toDouble / model.liveBytes
    db1.close()
    if (!ctx.trace.enabled) {
      r.metric("reopen_s", reopenS, "s", 1)
      r.metric("space_amp", spaceAmp, "ratio", 1)
    } else {
      r.metric("engine.checkpoint_s", checkpointS, "s", 1)
      r.metric("engine.checkpoints", (manifestVersion(dir) - v0).toDouble, "count", 1)
    }
    deleteTree(dir)
  }

  private def manifestVersion(dir: Path): Long = {
    val m = dir.resolve("manifest.json")
    if (!Files.exists(m)) 0L else mapper.readTree(Files.readString(m)).path("version").asLong(0)
  }

  /** Per-layer metrics of traced requests: the common Spark layers, and
    * per kind the engine call's time and Spark jobs. */
  private def traceOps(ctx: Ctx, done: Seq[Done], prefix: String = ""): Unit = {
    val r = ctx.report
    val harness = Seq("command.decode", "engine.bind", "command.encode", "engine")
    Layers.report(r, done.map(d => TracedOp(d.op.kind, d.start, d.end, d.children)), harness,
      ctx.cores, prefix)
    def span(d: Done, l: String) = d.children.filter(_._1 == l).map(c => c._3 - c._2).sum
    r.metric(s"${prefix}command.decode_ms", Stats.mean(done.map(span(_, "command.decode"))), "ms", done.size)
    r.metric(s"${prefix}command.encode_ms", Stats.mean(done.map(span(_, "command.encode"))), "ms", done.size)
    r.metric(s"${prefix}command.response_bytes", Stats.mean(done.map(_.body.length.toDouble)), "B", done.size)
    r.metric(s"${prefix}engine.bind_ms", Stats.mean(done.map(span(_, "engine.bind"))), "ms", done.size)
    done.groupBy(_.op.kind).foreach { case (kind, ds) =>
      val name = kind match {
        case "read" => "engine.query_ms"
        case k => s"engine.execute_ms.$k"
      }
      r.metric(name, Stats.median(ds.map(span(_, "engine"))), "ms", ds.size)
      val jobs = ds.map { d =>
        d.children.filter(_._1 == "engine").map(c => SparkProbe.jobsIn(c._2, c._3).size).sum.toDouble
      }
      r.metric(s"engine.jobs_per_op.$kind", Stats.mean(jobs), "count", ds.size)
    }
  }

  /** Point reads sent in process, the same in both kinds of run: the
    * figure the tracing overhead is computed from. */
  private def inProcessReads(ctx: Ctx, ep: Endpoint, model: Model): Unit = {
    val ds = (0 until 10).map(i => ep.inProcess(Op(-500 - i, "read", readBody(2L + i), 2L + i)))
    ds.foreach(d => model.apply(d).foreach(e => ctx.report.fail(s"in-process read: $e")))
    ctx.report.attempted += ds.size
    ctx.report.metric("trace_probe_ms", Stats.median(ds.map(d => d.end - d.start)), "ms", ds.size)
  }

  /** HTTP minus in-process latency for the same kinds of request, sent one
    * at a time, alternating, and checked against the model. */
  private def serverOverhead(ctx: Ctx, ep: Endpoint, model: Model): Unit = {
    val r = ctx.report
    inProcessReads(ctx, ep, model)
    val pings = (1 to 20).map { _ =>
      val t0 = Clock.nowMs(); ep.ping(); Clock.nowMs() - t0
    }
    r.metric("server.ping_ms", Stats.median(pings), "ms", pings.size)
    def overhead(kind: String, n: Int, mk: Int => Op): Unit = {
      val pairs = (0 until n).map { i =>
        val h = ep.viaHttp(mk(2 * i)); val p = ep.inProcess(mk(2 * i + 1))
        Seq(h, p).foreach(d => model.apply(d).foreach(e => r.fail(s"overhead $kind: $e")))
        (h.end - h.start, p.end - p.start)
      }
      r.attempted += 2 * n
      r.metric(s"server.overhead_ms.$kind",
        Stats.median(pairs.map(_._1)) - Stats.median(pairs.map(_._2)), "ms", n)
    }
    overhead("read", 15, i => Op(-1, "read", readBody(1L + i), 1L + i))
    overhead("insert", 10, i => Op(-1, "insert", insertBody(700000L + i, 1, "o"), 700000L + i, 1, "o"))
    overhead("update", 3, i => Op(-1, "update", updateBody(PreloadRows - 40 - i, "o"), PreloadRows - 40 - i, 0, "o"))
  }

  // ------------------------------------------------------------ bulk phase

  /** The bulk phase of a run: one cycle that creates a table, sends
    * [[BulkBatches]] transactional batches of [[BulkBatchRows]] single-row
    * INSERTs one after another, checks the table and drops it. Only writes,
    * so it isolates the per-statement write path. */
  private def bulkPhase(ctx: Ctx, ep: Endpoint, db: GraftDb): Unit = {
    val r = ctx.report
    val rng = new scala.util.Random(ctx.seed ^ 0xb01cL)
    val rows = BulkBatches * BulkBatchRows
    exec(db, "CREATE TABLE bulk (id INTEGER PRIMARY KEY, v TEXT NOT NULL)")
    val ids = rng.shuffle((1L to rows).toVector)
    val done = (0 until BulkBatches).map { b =>
      val slice = ids.slice(b * BulkBatchRows, (b + 1) * BulkBatchRows)
      val body = request(tx = true, slice.map(id =>
        stmt("INSERT INTO bulk (id, v) VALUES (?, ?)", int(id), text(f"b$id%011d"))))
      ep.call(Op(b, "bulk", body))
    }
    r.attempted += done.size + 1
    val failed = done.filterNot { d =>
      d.status == 200 && parse(d.body).exists(a => a.isArray &&
        a.size == BulkBatchRows && a.elements().asScala.forall(x =>
          !x.has("error") && x.path("rows_affected").asLong(0) == 1))
    }
    failed.foreach(d => r.fail(s"bulk batch ${d.op.i}: ${d.body.take(200)}"))
    db.queryStringStmt("SELECT count(*), sum(id) FROM bulk") match {
      case Right(rs) if rs.head.values.head == Seq(graft.command.Value.Integer(rows.toLong),
        graft.command.Value.Integer(ids.sum)) =>
      case other => r.fail(s"bulk table contents: $other")
    }
    exec(db, "DROP TABLE bulk")
    val ok = done.filterNot(failed.contains)
    val ms = ok.map(d => d.end - d.start)
    if (!ctx.trace.enabled) {
      r.metric("bulk_rows_per_s", if (ms.isEmpty) 0.0 else ok.size * BulkBatchRows / (ms.sum / 1e3),
        "1/s", ok.size)
      r.metric("bulk_batch_p50_ms", if (ms.isEmpty) Double.PositiveInfinity else Stats.median(ms),
        "ms", ok.size)
    } else {
      traceOps(ctx, ok, "bulk.")
      val engine = ok.map(_.children.filter(_._1 == "engine").map(c => c._3 - c._2).sum)
      r.metric("engine.execute_ms_per_row", engine.sum / (ok.size * BulkBatchRows), "ms", ok.size)
    }
  }
}
