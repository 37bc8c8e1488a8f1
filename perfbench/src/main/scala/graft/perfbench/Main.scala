package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.model.{PropertyGraph, SessionMemo}
import graft.streaming.Streams

/** One benchmark op, read from the op list `perfbench/run.py` writes:
  * `id \t kind \t class \t layer \t group \t args...`. `class` is
  * `read` or `write`; `layer` names the graft module the op calls into.
  * An empty group runs in every pass; group k runs only in pass k + 1. */
final case class Op(id: String, kind: String, cls: String, layer: String,
                    group: String, args: Vector[String]) {
  def s(i: Int): String = args(i)
  def l(i: Int): Long = args(i).toLong
  def d(i: Int): Double = args(i).toDouble
}

/** Executes one workload's op list against graft for a fixed time and
  * writes raw timings, results and (with tracing) spans, jobs and
  * stages as JSON lines under `--out`. All statistics and output checks
  * are computed from those files by `perfbench/run.py`.
  *
  * Usage: Main --workload W --data DIR --ingest DIR --ops FILE --out DIR
  *             --seed N --seconds S --warm N --trace 0|1 --cpus N
  *
  * `--data` holds the tables graft reads; `--ingest` the sink inputs
  * `perfbench/workloads.py` wrote for this run. An untraced run makes
  * at least `--warm` warm passes after its cold pass.
  *
  * Workload `train` sets up for every workload and makes one cold pass:
  * the build runs it to record the classes a run loads.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val ingest = a("ingest")
    val out = Paths.get(a("out"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val minWarm = a("warm").toInt
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val ops = Files.readAllLines(Paths.get(a("ops")), UTF_8).asScala
      .filter(_.nonEmpty).map { line =>
        val f = line.split("\t", -1).toVector
        Op(f(0), f(1), f(2), f(3), f(4), f.drop(5))
      }.toVector
    Files.createDirectories(out)
    new Run(workload, data, ingest, out, seed, seconds, minWarm, traced, cpus,
      ops).run()
  }
}

final class Run(workload: String, data: String, ingest: String, out: Path,
                seed: Long, seconds: Double, minWarm: Int, traced: Boolean,
                cpus: Int, ops: Vector[Op]) {
  private val spans = new Spans
  private val listener = new JobListener
  private var spark: SparkSession = _
  private val sinkRoot: Path = out.resolve("sinks")
  private var ivmIn: DataFrame = _
  private var ccIn: DataFrame = _
  private val samples = mutable.ArrayBuffer.empty[String]
  private val passes = mutable.ArrayBuffer.empty[String]
  private val results = mutable.LinkedHashMap.empty[String, String]
  private val digests = mutable.HashMap.empty[String, Int]

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** (stolen, all) CPU ticks of the whole machine from /proc/stat; zeros
    * where procfs is missing. Steal is time the hypervisor ran other
    * guests on this machine's CPUs. */
  private def hostTicks(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat"), UTF_8).asScala
      .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }

  /** Runs `body` as a named set-up step: a span, plus a job group so the
    * traced run can count the step's jobs. */
  private def step[T](name: String)(body: => T): (T, Double) = {
    if (traced) spark.sparkContext.setJobGroup(s"setup:$name", name)
    val t0 = System.nanoTime()
    val v = spans(name)(body)
    val dt = secs(t0)
    if (traced) {
      listener.drain(spark.sparkContext, s"setup:$name")
      spark.sparkContext.clearJobGroup()
    }
    (v, dt)
  }

  /** Session start plus the workload's shared builds; returns the named
    * parts of the set-up time. */
  private def setup(): Map[String, Double] = spans("setup") {
    val t0 = System.nanoTime()
    val parts = mutable.LinkedHashMap.empty[String, Double]
    spark = spans("session.start") {
      val s = GraftSession.local(cpus, "graft-perfbench")
      if (traced) s.sparkContext.addSparkListener(listener)
      s
    }
    parts("session.start_s") = secs(t0)
    // `train` (the build's class-loading run) sets up for every workload
    if (workload == "query" || workload == "train")
      parts("model.graph_load_s") = step("model.graph_load")(loadGraph())._2
    if (workload == "ingest" || workload == "train") {
      parts("streams.inputs_s") = step("streams.inputs") {
        ivmIn = spark.read.parquet(s"$ingest/ingest_ivm.parquet")
        ccIn = spark.read.parquet(s"$ingest/ingest_cc.parquet")
      }._2
    }
    parts("setup_s") = secs(t0)
    parts.toMap
  }

  private def ivmBatch(b: Long): DataFrame =
    ivmIn.filter(col("batch") === b).drop("batch")

  private def ccBatch(b: Long): DataFrame =
    ccIn.filter(col("batch") === b).select("a", "b")

  private def loadGraph(): Unit = {
    val g = PropertyGraph.load(spark, data)
    g.nodes.count()
    g.edges.count()
  }

  /** Fixed CPU-bound job: the minimum of three timings. A contended
    * host raises it, so a run on a loaded machine identifies itself. */
  private def sentinel(): Double = spans("host.sentinel") {
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(4000000L).selectExpr("sum(id % 7)").collect()
      secs(t0)
    }.min
  }

  private def graph: PropertyGraph = PropertyGraph.load(spark, data)

  // one sink directory per run: every pass commits a batch id no
  // earlier pass committed, so no commit takes the sinks' replay-skip
  private def sinkDir(name: String): String = sinkRoot.resolve(name).toString

  /** The op's call into graft. It returns the frame to plan and collect,
    * or None when the call itself is the whole op (a sink commit). */
  private def construct(op: Op): Option[DataFrame] = {
    val session = spark
    import session.implicits._
    def q(df: DataFrame) = Some(df)
    val on = (l: String, k: Long) => col("label") === l && col("key") === k
    op.kind match {
      case "get_node" => q(graph.getNode(op.s(0), op.l(1)))
      case "get_nodes" =>
        q(graph.getNodes(op.s(0), col("balance").between(op.d(1), op.d(2))))
      case "egress" => q(graph.egress(op.s(0), op.l(1)))
      case "ingress" => q(graph.ingress(op.s(0), op.l(1)))
      case "edge_by_id" => q(graph.getEdgeById(op.s(0)))
      case "paths_to" =>
        q(graph.pathsTo("customer", op.l(0), "supplier", op.l(1),
          maxDepth = 3, directed = true))
      case "upsert" =>
        val node = Seq(("customer", op.l(0), op.s(1), op.d(2)))
          .toDF("label", "key", "name", "balance")
        val edge = Seq(("PLACED", "customer", op.l(0), "order", op.l(3), op.l(4)))
          .toDF("elabel", "src_label", "src_key", "dst_label", "dst_key", "weight")
        q(graph.upsertNodes(node).upsertEdges(edge).ingress("order", op.l(3)))
      case "remove_update" =>
        val both = col("label") === "customer" && col("key").isin(op.l(0), op.l(1))
        q(graph.removeNodes("customer", col("key") === op.l(0))
          .updateNodeProps(on("customer", op.l(1)), Map("name" -> Some(op.s(2))))
          .filter(both).select("label", "key", "props"))
      case "query" =>
        val fn = graft.SparkEntry.queries(op.s(0))
        q(fn(spark, data))
      case "ivm_commit" =>
        Streams.ivmJoinSink(sinkDir("ivm"))(ivmBatch(op.l(0)), op.l(0))
        None
      case "cc_commit" =>
        Streams.ccIncSink(sinkDir("cc"))(ccBatch(op.l(0)), op.l(0))
        None
      case "ivm_read" => q(Streams.ivmViewRead(spark, sinkDir("ivm"), op.l(0)))
      case "cc_read" => q(Streams.ccLabelsRead(spark, sinkDir("cc"), op.l(0)))
      case other => throw new IllegalArgumentException(s"unknown op kind $other")
    }
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** Executes one op and records its sample. Timing covers the call into
    * graft and the action that materializes its result; checking the
    * result happens after the clock stops. */
  private def runOp(op: Op, pass: Int, tracePass: Boolean): Unit = {
    val exec = s"$pass:${op.id}"
    val sc = spark.sparkContext
    val memo0 = SessionMemo.buildCount.get()
    val bytes0 = if (op.cls == "write") dirBytes(sinkRoot) else 0L
    var rows: Array[Row] = null
    var cols: Seq[String] = Nil
    var err = ""
    val start = Clock.nowMs
    val t0 = System.nanoTime()
    try {
      if (tracePass) {
        sc.setJobGroup(exec, op.kind)
        try spans("op", exec) {
          val df = spans("construct", exec)(construct(op))
          df.foreach { d =>
            spans("plan", exec)(d.queryExecution.executedPlan)
            rows = spans("exec", exec)(d.collect())
            cols = d.columns.toSeq
          }
          listener.drain(sc, exec)
        } finally sc.clearJobGroup()
      } else {
        construct(op).foreach { d =>
          rows = d.collect()
          cols = d.columns.toSeq
        }
      }
    } catch {
      case e: Throwable =>
        err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(3).mkString(" ")
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val end = Clock.nowMs
    val memo = SessionMemo.buildCount.get() - memo0
    val written =
      if (op.cls == "write") dirBytes(sinkRoot) - bytes0 else 0L
    var digest = 0
    var nrows = -1
    if (rows != null && err.isEmpty) {
      val (json, sorted) = Canon.result(cols, rows)
      digest = scala.util.hashing.MurmurHash3.orderedHash(sorted)
      nrows = rows.length
      digests.get(op.id) match {
        case None =>
          digests(op.id) = digest
          results(op.id) = json
        case Some(first) if first != digest =>
          err = s"result differs from the first pass (digest $digest vs $first)"
        case _ => ()
      }
    }
    samples += Json.obj(
      "pass" -> pass.toString, "op" -> Json.str(op.id),
      "kind" -> Json.str(op.kind), "cls" -> Json.str(op.cls),
      "layer" -> Json.str(op.layer), "traced" -> tracePass.toString,
      "start_ms" -> Json.num(start), "end_ms" -> Json.num(end),
      "wall_ms" -> Json.num(wallMs), "ok" -> err.isEmpty.toString,
      "err" -> Json.str(err), "rows" -> nrows.toString,
      "digest" -> digest.toString, "memo_builds" -> memo.toString,
      "bytes_written" -> written.toString)
  }

  /** The every-pass ops in a shuffled order, with this pass's group (an
    * ingest batch: commits, then reads) as one in-order block at a
    * shuffled position. The order changes from pass to pass but not
    * with the seed: op ids are the same for every seed, so seeds differ
    * in keys and batches, never in the order the JVM warms up in. */
  private def opsForPass(pass: Int): Vector[Op] = {
    val rnd = new scala.util.Random(pass)
    val every = rnd.shuffle(ops.filter(_.group.isEmpty))
    val block = ops.filter(_.group == (pass - 1).toString)
    every.patch(rnd.nextInt(every.size + 1), block, 0)
  }

  // with grouped ops, a pass per group at most
  private val maxPasses =
    if (ops.exists(_.group.nonEmpty)) ops.map(_.group).filter(_.nonEmpty).distinct.size
    else 10000

  def run(): Unit = {
    val setupParts = setup()
    val sentStart = sentinel()
    val tStart = System.nanoTime()
    var pass = 0
    var warmU = 0
    var warmT = 0
    def enough: Boolean = secs(tStart) >= seconds && (
      if (traced) warmU >= 2 && warmT >= 1 else warmU >= minWarm)
    while (pass == 0 || (!enough && pass < maxPasses)) {
      pass += 1
      // a traced run traces its cold pass, then makes warm passes
      // untraced, traced, untraced: the tracing overhead is the traced
      // pass minus the mean of its neighbours, so a linear drift across
      // passes (JIT warm-up, growing sink versions) cancels
      val tracePass = traced && pass % 2 == 1
      if (pass > 1) { if (tracePass) warmT += 1 else warmU += 1 }
      val memo0 = SessionMemo.buildCount.get()
      val start = Clock.nowMs
      val (steal0, all0) = hostTicks()
      val t0 = System.nanoTime()
      spans(if (tracePass) "pass.traced" else "pass", s"$pass") {
        opsForPass(pass).foreach(op => runOp(op, pass, tracePass))
      }
      val wall = secs(t0)
      val (steal1, all1) = hostTicks()
      val steal = if (all1 > all0) (steal1 - steal0).toDouble / (all1 - all0) else 0.0
      passes += Json.obj("pass" -> pass.toString, "traced" -> tracePass.toString,
        "start_ms" -> Json.num(start), "end_ms" -> Json.num(Clock.nowMs),
        "wall_s" -> Json.num(wall), "steal_frac" -> Json.num(steal),
        "memo_builds" -> (SessionMemo.buildCount.get() - memo0).toString)
    }
    val sentEnd = sentinel()
    val storageB = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val storedB = dirBytes(sinkRoot)
    val oracle = ops.filter(_.kind == "query").map(_.s(0)).distinct
      .flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
    val summary = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cpus" -> cpus.toString, "traced" -> traced.toString,
      "setup" -> Json.obj(setupParts.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "sentinel_start_s" -> Json.num(sentStart),
      "sentinel_end_s" -> Json.num(sentEnd),
      "storage_bytes" -> storageB.toString,
      "sink_stored_bytes" -> storedB.toString,
      "graph_cte" -> Json.str(PropertyGraph.oracleCte),
      "oracle_sql" -> Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }: _*))
    def write(name: String, lines: Iterable[String]): Unit =
      Files.write(out.resolve(name), lines.asJava, UTF_8)
    write("summary.json", Seq(summary))
    write("samples.jsonl", samples)
    write("passes.jsonl", passes)
    write("results.jsonl", results.map { case (k, v) =>
      Json.obj("op" -> Json.str(k), "result" -> v) })
    if (traced) {
      write("spans.jsonl", spans.all.map(spans.json))
      write("jobs.jsonl", listener.jobsJson)
      write("stages.jsonl", listener.stagesJson)
    }
    spark.stop()
  }
}

/** Engine-neutral rendering of a collected result, compared by run.py
  * against the same rendering of an independent computation. Columns
  * are ordered by name, rows are sorted, and every value becomes plain
  * JSON: numbers, strings, booleans, lists, objects with sorted keys. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => Json.str(s)
    case b: Boolean => b.toString
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => dbl(x.doubleValue)
    case x: scala.math.BigDecimal => dbl(x.toDouble)
    case t: java.sql.Timestamp =>
      Json.str(s"us:${t.getTime / 1000 * 1000000L + t.getNanos / 1000}")
    case d: java.sql.Date => Json.str(d.toLocalDate.toString)
    case b: Array[Byte] => Json.str(b.map("%02x".format(_)).mkString)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (k match {
        case s: String => s
        case other => value(other)
      }) -> value(x) }.sortBy(_._1)
        .map { case (k, x) => s"${Json.str(k)}:$x" }.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("[", ",", "]")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => Json.str(other.toString)
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) Json.str(d.toString) else d.toString

  /** (JSON object {"cols", "rows"}, sorted row strings). */
  def result(cols: Seq[String], rows: Array[Row]): (String, Seq[String]) = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val rendered = rows.toSeq.map(r => order.map(i => value(r.get(i)))
      .mkString("[", ",", "]")).sorted
    val json = Json.obj(
      "cols" -> Json.arr(order.map(i => Json.str(cols(i)))),
      "rows" -> Json.arr(rendered))
    (json, rendered)
  }
}
