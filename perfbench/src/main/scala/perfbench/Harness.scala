package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

import graft.api.GraftSession
import graft.cypher.{Compiler, Parser}
import graft.queries.QueryDef
import graft.sources.{Tables, TpchGraph}

/** One op of a workload pass, as listed in the ops file run.py writes. */
sealed trait Op {
  def name: String
  def isWrite: Boolean
}

/** A correctness gate: `QueryDef.run` builds the DataFrame, a hashing
  * sink drains it. `rows`/`hash` are the expected answer. */
final case class GateOp(name: String, rows: Long, hash: Long) extends Op {
  def isWrite = false
}

/** A seeded Cypher read: parsed and compiled over the session's current
  * snapshot, collected, and compared with the digest of the same
  * question answered in SQL over the base tables. */
final case class ReadOp(name: String, query: String,
    params: Map[String, Any], digest: String) extends Op {
  def isWrite = false
}

/** A seeded Cypher mutation through `GraftSession.execute`; `readback`
  * is the Cypher read (untimed) whose digest proves the write landed. */
final case class WriteOp(name: String, query: String,
    params: Map[String, Any], readback: String, digest: String) extends Op {
  def isWrite = true
}

/** The benchmark's JVM side. run.py generates the op list and the
  * expected answers, launches this main once per run, and turns the raw
  * record it writes into metrics.
  *
  * A run: `SetupReps` set-ups (SparkSession → table scan → TpchGraph →
  * fixture staging, each over a fresh copy of the data directory so no
  * fixture or memo carries over), one cold pass, then a fixed number of
  * warm passes. Every pass runs each op once in a seeded order. With
  * tracing on, the warm passes are doubled and Spark listeners record
  * jobs, stages and micro-batches on alternate ones; the others give the
  * untraced time the tracing overhead is measured against.
  */
object Harness {
  val OpProperty = "perfbench.op"
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 3

  final case class Args(ops: Path, data: Path, work: Path, out: Path,
      seed: Long, warmPasses: Int, trace: Boolean, record: Boolean)

  private def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(Paths.get(get("--ops")), Paths.get(get("--data")),
      Paths.get(get("--work")), Paths.get(get("--out")),
      get("--seed").toLong, get("--warm-passes").toInt,
      get("--trace") == "1", m.getOrElse("--record", "0") == "1")
  }

  private def parseParams(s: String): Map[String, Any] =
    if (s.isEmpty) Map.empty
    else s.split(";").map { kv =>
      val Array(k, tv) = kv.split("=", 2)
      val Array(t, v) = tv.split(":", 2)
      k -> (if (t == "i") v.toLong else v)
    }.toMap

  private def readOps(p: Path): Seq[Op] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
      line.split("\t", -1).toSeq match {
        case Seq("gate", n, rows, hash) =>
          GateOp(n, rows.toLong, hash.toLong)
        case Seq("read", n, q, ps, d) => ReadOp(n, q, parseParams(ps), d)
        case Seq("write", n, q, ps, rb, d) =>
          WriteOp(n, q, parseParams(ps), rb, d)
        case other => sys.error(s"bad op line: $other")
      }
    }.toSeq

  // ---- answers -------------------------------------------------------

  /** Drain a gate's answer: the full physical plan runs to its last row
    * (no column pruning, no driver collect, like Spark's `noop` sink),
    * and each partition folds its rows into a count and a 64-bit sum of
    * row hashes, so the answer is checked without a second job. */
  def drain(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Order-insensitive digest of collected rows; run.py computes the
    * same over DuckDB's answer (values as text, NULL as \N). */
  def digest(rows: Array[Row]): String = {
    val lines = rows.map(_.toSeq.map {
      case null => "\\N"
      case v => v.toString
    }.mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  // ---- environment samples -------------------------------------------

  private val osBean = java.lang.management.ManagementFactory
    .getPlatformMXBean(classOf[com.sun.management.OperatingSystemMXBean])

  def processCpuNs: Long = osBean.getProcessCpuTime

  /** Raw contention counters: the /proc/stat cpu line (user..steal), the
    * I/O PSI `some` total, and this process's CPU. run.py turns two
    * samples into steal, other processes' CPU and I/O stall. */
  private def contentionSample(clock: Clock): JMap[String, Any] = {
    def read(p: String) =
      try Files.readString(Paths.get(p)) catch { case _: Exception => "" }
    val cpu = read("/proc/stat").linesIterator.take(1).toSeq
      .flatMap(_.trim.split("\\s+").slice(1, 9).map(_.toLong))
    val psi = "total=(\\d+)".r.findFirstMatchIn(read("/proc/pressure/io")
      .linesIterator.find(_.startsWith("some")).getOrElse(""))
      .map(_.group(1).toLong).getOrElse(-1L)
    Rec("t_ms" -> clock.nowMs, "proc_stat" -> cpu.asJava,
      "io_psi_us" -> psi, "process_cpu_ns" -> processCpuNs)
  }

  // ---- the run -------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val ops = readOps(a.ops)
    val gates = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    val missing = ops.collect { case g: GateOp if !gates.contains(g.name) =>
      g.name }
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(", ")}")
    val nproc = Runtime.getRuntime.availableProcessors()
    // Half the cores run tasks; the rest is left to the driver thread, the
    // JIT and GC. With every core running tasks the driver thread (the
    // critical path of short ops) competes for CPU and hypervisor steal
    // rises: runs got slower and noisier on a 4-core VM.
    val slots = math.max(1, nproc / 2)
    val clock = new Clock
    val spans = new Spans(clock)
    val out = Rec("seed" -> a.seed, "trace" -> a.trace, "nproc" -> nproc,
      "slots" -> slots)
    val contention = new JList[JMap[String, Any]]()
    contention.add(contentionSample(clock))

    def session(): SparkSession = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()

    // ---- set-up, repeated; the last one's session runs the passes ----
    val setups = new JList[JMap[String, Any]]()
    var spark: SparkSession = null
    var dir = ""
    for (rep <- 0 until SetupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dir = copyData(a.data, a.work.resolve(s"data_$rep"))
      val t0 = clock.nowMs
      spans.enabled = a.trace
      spans("setup", 0L, "rep" -> rep) { sid =>
        spark = session()
        spark.sparkContext.setLogLevel("ERROR")
        val t1 = clock.nowMs
        val tables = spans("sources.tables", sid) { _ =>
          val t = Tables(spark, dir)
          Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
            t.lineitem, t.events, t.documents, t.embeddings)
            .foreach(_.count())
          t
        }
        val t2 = clock.nowMs
        spans("sources.graph_build", sid) { _ =>
          val g = TpchGraph(tables)
          g.vertices.count()
          g.edges.count()
        }
        val t3 = clock.nowMs
        spans("queries.stage", sid) { _ =>
          ops.collect { case g: GateOp => gates(g.name) }
            .foreach(q => q.stage.foreach(_(spark, dir)))
        }
        val t4 = clock.nowMs
        setups.add(Rec("total_s" -> (t4 - t0) / 1e3,
          "session_s" -> (t1 - t0) / 1e3, "tables_s" -> (t2 - t1) / 1e3,
          "graph_build_s" -> (t3 - t2) / 1e3, "stage_s" -> (t4 - t3) / 1e3))
      }
    }
    out.put("setups", setups)
    implicit val sp: SparkSession = spark
    val sc = spark.sparkContext
    val tables = Tables(spark, dir)

    val jobs = new JobListener(clock)
    val streams = new StreamListener(clock)
    def setTracing(on: Boolean): Unit = {
      if (on) {
        sc.addSparkListener(jobs)
        spark.streams.addListener(streams)
      } else {
        // events of the pass just run are still on the listener bus
        org.apache.spark.ListenerBusDrain(sc, 10000L)
        sc.removeSparkListener(jobs)
        spark.streams.removeListener(streams)
      }
      spans.enabled = on
    }

    // ---- passes -------------------------------------------------------
    val samples = new JList[JMap[String, Any]]()
    val passes = new JList[JMap[String, Any]]()
    val recorded = new JMap[String, Any]()

    // A pass's wall and CPU time are the sums over its ops' timed
    // windows, so the untimed checks between them are not counted.
    def runPass(index: Int, warm: Boolean, traced: Boolean): Unit = {
      if (traced) setTracing(true)
      val order = passOrder(ops, a.seed, index)
      // every pass restarts from the base snapshot
      val gs = GraftSession(spark, TpchGraph(tables))
      var wallMs = 0.0
      var cpuNs = 0L
      val p0 = clock.nowMs
      spans("pass", 0L, "pass" -> index, "warm" -> warm) { pid =>
        for ((op, i) <- order.zipWithIndex) {
          val tag = s"$index:$i:${op.name}"
          sc.setLocalProperty(OpProperty, tag)
          val c = processCpuNs
          val s = clock.nowMs
          val rec = Rec("pass" -> index, "warm" -> warm, "traced" -> traced,
            "op" -> op.name, "tag" -> tag, "write" -> op.isWrite)
          var check: () => String = null
          val failed =
            try {
              spans("op", pid, "op" -> op.name, "tag" -> tag) { oid =>
                check = answer(op, gs, gates, dir, spans, oid, rec, a,
                  recorded)
              }
              null
            } catch { case e: Throwable => describe(e) }
          val e = clock.nowMs
          val cpu = processCpuNs - c
          rec.put("start_ms", s)
          rec.put("end_ms", e)
          rec.put("cpu_ns", cpu)
          wallMs += e - s
          cpuNs += cpu
          // the check runs after the op's timed window
          sc.setLocalProperty(OpProperty, "check")
          val err =
            if (failed != null) failed
            else try check() catch { case e: Throwable => describe(e) }
          rec.put("ok", err == null)
          if (err != null) {
            rec.put("error", err)
            System.err.println(s"[perfbench] ${op.name} (pass $index) " +
              s"FAILED: $err")
          }
          sc.setLocalProperty(OpProperty, null)
          samples.add(rec)
        }
      }
      passes.add(Rec("pass" -> index, "warm" -> warm, "traced" -> traced,
        "start_ms" -> p0, "end_ms" -> clock.nowMs, "wall_s" -> wallMs / 1e3,
        "cpu_s" -> cpuNs / 1e9, "ops" -> order.size))
      if (traced) setTracing(false)
    }

    runPass(0, warm = false, traced = a.trace)
    // The count of warm passes comes from the arguments alone, never from
    // the speed being measured, so every commit measures the same work.
    val warmPasses = if (a.trace) 2 * a.warmPasses else a.warmPasses
    for (index <- 1 to warmPasses)
      runPass(index, warm = true, traced = a.trace && index % 2 == 1)
    contention.add(contentionSample(clock))

    // ---- end-of-run state ---------------------------------------------
    out.put("cached_mb", sc.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0)
    // undelivered listener events hold task metrics on the heap
    org.apache.spark.ListenerBusDrain(sc, 10000L)
    out.put("retained_heap_mb", retainedHeapMb())
    out.put("passes", passes)
    out.put("samples", samples)
    out.put("contention", contention)
    out.put("spans", spans.all)
    out.put("jobs", jobs.jobs)
    out.put("stages", jobs.stages)
    out.put("batches", streams.batches)
    if (a.record) out.put("recorded", recorded)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(a.out.toFile, out)
    spark.stop()
  }

  /** Driver heap in use after full GCs. A GC lets Spark's ContextCleaner
    * release the blocks of collected broadcasts and RDDs, which the next
    * GC then frees, so collect until the figure stops falling. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used = mem.getHeapMemoryUsage.getUsed / 1048576.0
    var last = Double.MaxValue
    var now = 0.0
    var rounds = 0
    while (rounds < 8 && { System.gc(); Thread.sleep(300); now = used
        now < last * 0.99 }) {
      last = now
      rounds += 1
    }
    now
  }

  /** Seeded op order of one pass: the gates shuffled, and the Cypher ops
    * merged in at seeded positions, keeping their listed order. */
  def passOrder(ops: Seq[Op], seed: Long, pass: Int): Seq[Op] = {
    val rnd = new Random(seed * 1000003L + pass)
    val (gates, cypher) = ops.partition(_.isInstanceOf[GateOp])
    val slots = rnd.shuffle((0 until ops.size).toVector)
      .take(cypher.size).toSet
    val g = rnd.shuffle(gates).iterator
    val c = cypher.iterator
    (0 until ops.size).map(i => if (slots(i)) c.next() else g.next())
  }

  private def describe(e: Throwable): String =
    Option(e.toString).getOrElse("error").take(300)

  /** Run one op until the caller holds its full answer. Returns the
    * check to run afterwards, untimed: null when the answer matches,
    * else the mismatch. */
  private def answer(op: Op, gs: GraftSession, gates: Map[String, QueryDef],
      dir: String, spans: Spans, parent: Long, rec: JMap[String, Any],
      a: Args, recorded: JMap[String, Any])
      (implicit spark: SparkSession): () => String = op match {
    case g: GateOp =>
      val q = gates(g.name)
      val df = spans("queries.build", parent)(_ => q.run(spark, dir))
      val (n, h) = spans("queries.exec", parent)(_ => drain(df))
      rec.put("plan_ms", planMs(df))
      () =>
        if (a.record) {
          recorded.put(g.name, Rec("rows" -> n, "hash" -> h.toString))
          null
        } else if (n != g.rows) s"rows $n, expected ${g.rows}"
        else if (h != g.hash) s"content hash $h, expected ${g.hash}"
        else null
    case r: ReadOp =>
      val (parts, _) = spans("cypher.parse", parent)(
        _ => Parser.parseMulti(r.query, r.params))
      val df = spans("cypher.compile", parent)(
        _ => new Compiler(gs.graph).compileRead(parts.head))
      val rows = spans("queries.exec", parent)(_ => df.collect())
      rec.put("plan_ms", planMs(df))
      () => {
        val d = digest(rows)
        if (d == r.digest) null else s"answer digest $d, expected ${r.digest}"
      }
    case w: WriteOp =>
      val df = spans("cypher.mutate", parent)(
        _ => gs.execute(w.query, w.params))
      spans("queries.exec", parent)(_ => df.collect())
      () => {
        val (parts, _) = Parser.parseMulti(w.readback, w.params)
        val d = digest(new Compiler(gs.graph).compileRead(parts.head)
          .collect())
        if (d == w.digest) null
        else s"read-back digest $d, expected ${w.digest}"
      }
  }

  /** Catalyst's own planning time for the answer's DataFrame
    * (analysis, optimization and physical planning). */
  private def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

  /** Copy the data directory so each set-up sees a new path: fixture
    * staging and session memos are keyed by it. */
  private def copyData(src: Path, dst: Path): String = {
    Files.createDirectories(dst)
    val s = Files.list(src)
    try s.iterator.asScala.foreach { f =>
      val t = dst.resolve(f.getFileName.toString)
      if (!Files.exists(t)) Files.copy(f, t)
    } finally s.close()
    dst.toString
  }
}
