package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name, unix_micros}

import graft.GraftSession
import graft.operators.SnapshotTable
import graft.wikidata.{DumpReader, IncrementalEtl, QueryApi, WikidataEtl, WikidataTables}

object Json {
  val mapper = new ObjectMapper()
  def read(f: File): JsonNode = mapper.readTree(f)
}

/** Order-independent table and answer digests, the rendering gen.py's
  * `row_hash` defines: count plus the sum mod 2^64 of a SHA-1 prefix per
  * canonical row. */
object Digest {
  val columns: Map[String, Seq[String]] = Map(
    "meta" -> Seq("id", "label", "description"),
    "string" -> Seq("id", "property_id", "string"),
    "entity" -> Seq("id", "property_id", "entity_id"),
    "coordinates" -> Seq("id", "property_id", "latitude", "longitude", "precision", "globe_id"),
    "quantity" -> Seq("id", "property_id", "amount", "lower_bound", "upper_bound", "unit_id"),
    "time" -> Seq("id", "property_id", "time", "precision"),
    "none" -> Seq("id", "property_id"),
    "unknown" -> Seq("id", "property_id"))

  private def field(v: Any): String = v match {
    case null => "~"
    case l: Long => "i" + l
    case i: Int => "i" + i
    case d: Double =>
      val bits = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
      "d" + f"$bits%016x"
    case s: String => s"s${s.getBytes(UTF_8).length}:$s"
    case other => throw new IllegalArgumentException(s"unexpected value $other")
  }

  def rowHash(values: Seq[Any]): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(values.map(field).mkString("|").getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  final case class D(rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
    def matches(e: JsonNode): Boolean =
      rows == e.get("rows").asLong && hex == e.get("hash").asText
    override def toString: String = s"$rows rows, hash $hex"
  }

  def of(rows: Iterable[Row], cols: Seq[String]): D = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(cols.map(c => r.getAs[Any](c))); n += 1 }
    D(n, sum)
  }

  /** Rows of one reference table in digest form: its columns in order,
    * timestamps as epoch microseconds, plus any `extra` columns. */
  def rows(df: DataFrame, name: String, extra: String*): Seq[Row] =
    df.select(columns(name).map(c =>
      if (name == "time" && c == "time") unix_micros(col(c)).as(c) else col(c)) ++
      extra.map(col): _*).collect().toSeq

  def table(df: DataFrame, name: String): D = of(rows(df, name), columns(name))
}

/** One timed op of loop step `step`. `probeMs` is traced-only extra work
  * inside it, left out of the traced-vs-untraced comparison. */
final case class Op(i: Int, step: Int, kind: String, family: String, ms: Double,
    traced: Boolean, ok: Boolean, probeMs: Double, facts: Map[String, Double], note: String)

/** Facts of one dump → tables pass; `round` is its set-up round, or -1 for
  * a timed pass. */
final case class Pass(dumpBytes: Long, ms: Double, parseMs: Double, entities: Long,
    traced: Boolean, round: Int)

object Main {
  val Workloads = Seq("etl_dump", "serve_mix")
  /** Set-up rounds per run; setup_s is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val code =
      try {
        require(Workloads.contains(need("workload")), s"unknown workload ${need("workload")}")
        new Run(need("workload"), need("seconds").toDouble, need("trace") == "1",
          new File(need("inputs")), new File(need("work")), need("cpus").toInt,
          new File(need("out"))).run()
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }
}

final class Run(workload: String, seconds: Double, trace: Boolean, inputs: File,
    work: File, cpus: Int, out: File) {
  private val t0 = System.nanoTime()
  private val exp = Json.read(new File(inputs, "expect.json"))
  private val tracer = new Tracer(t0)
  private var spark: SparkSession = _
  private val meter = new Meter
  private var metered = false
  private val ops = ArrayBuffer.empty[Op]
  private val passes = ArrayBuffer.empty[Pass]
  private val setupS = ArrayBuffer.empty[Double]
  private val facts = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val problems = ArrayBuffer.empty[String]
  private var extraFailed = 0
  private var extraAttempted = 0

  private val names = IncrementalEtl.tableNames
  private def input(name: String) = new File(inputs, name).getPath
  private def dir(parts: String*) = Paths.get(work.getPath, parts: _*).toString
  private def now = System.nanoTime()
  private def fact(k: String, v: Double): Unit = facts.getOrElseUpdate(k, ArrayBuffer.empty) += v

  // per-op state of a traced op: its own facts, and the work its probes added
  private val opFacts = mutable.Map.empty[String, Double]
  private var probeWork = Counters()
  private val probeActions = mutable.Set.empty[Int]
  private var probeBusyMs = 0L

  /** Work the traced run adds to answer a per-layer question (an extra
    * count): its span is marked, and its Spark work is kept out of the op's
    * counters. */
  private def probe[T](name: String)(body: => T): T = {
    Bus.drain(spark.sparkContext)
    val b = meter.snapshot
    val from = System.currentTimeMillis()
    val r = tracer(name, probe = true)(body)
    Bus.drain(spark.sparkContext)
    val d = meter.snapshot - b
    probeWork = probeWork + d
    probeActions ++= (b.actions until b.actions + d.actions)
    probeBusyMs += meter.busyMs(from, System.currentTimeMillis())
    r
  }

  /** Attach the harness's listeners to the session for `body` when `on`,
    * so that untraced steps run without them. */
  private def withMeter[T](on: Boolean)(body: => T): T =
    if (!on || metered) body
    else {
      Bus.drain(spark.sparkContext)
      meter.attach(spark)
      metered = true
      try body
      finally { Bus.drain(spark.sparkContext); meter.detach(spark); metered = false }
    }

  // ---- set-up ----

  private def startSession(): Unit = {
    if (spark != null) spark.stop()
    spark = tracer("session.start")(GraftSession.local(cpus))
  }

  /** The EtlMain path: parse (cached), route, the 8 concurrent sinks. */
  private def etlPass(dump: String, outDir: String): Long = {
    val tables = tracer("etl.plan")(WikidataEtl.run(tracer("reader.read")(DumpReader.read(spark, dump))))
    val core = tables.core.get
    val entities = tracer("reader.parse")(core.count())
    if (tracer.enabled) probe("etl.route") {
      val routed = WikidataEtl.claimCore(core)
      fact("etl.claims", routed.count().toDouble)
      val (total, fused) = Plans.codegenShare(routed.queryExecution.executedPlan)
      fact("etl.route_codegen_frac", if (total == 0) 0.0 else fused.toDouble / total)
    }
    tracer("sink.write")(tables.writeParquet(outDir))
    tables.unpersist()
    entities
  }

  private def timedPass(dump: String, outDir: String): Pass = withMeter(tracer.enabled) {
    val traced = tracer.enabled
    val spansBefore = tracer.spans.size
    if (traced) Bus.drain(spark.sparkContext)
    val before = if (traced) meter.snapshot else null
    val a = now
    val entities = etlPass(dump, outDir)
    val ms = (now - a) / 1e6
    val parse = tracer.spans.drop(spansBefore).find(_.name == "reader.parse").map(_.ms).getOrElse(Double.NaN)
    val p = Pass(new File(dump).length, ms - probeMsSince(spansBefore), parse, entities, traced,
      if (tracer.op < 0) -1 - tracer.op else -1)
    passes += p
    if (traced) {
      Bus.drain(spark.sparkContext)
      fact("etl.rows_out", (meter.snapshot - before).recordsOut.toDouble)
      // one write action per table; its output directory names the table
      meter.actionsSince(before.actions).foreach(x =>
        x.writePath.foreach(w => fact("sink.write_s." + new File(w).getName, x.durationMs / 1e3)))
      sinkFacts(outDir, new File(dump).length)
    }
    p
  }

  private def probeMsSince(spanIndex: Int): Double =
    tracer.spans.drop(spanIndex).filter(_.probe).map(_.ms).sum

  private def sinkFacts(outDir: String, dumpBytes: Long): Unit = {
    val (files, bytes) = parquetFiles(Paths.get(outDir))
    fact("sink.files", files.toDouble)
    fact("sink.mb_out", bytes / 1e6)
    fact("sink.out_per_in", bytes.toDouble / dumpBytes)
  }

  private def parquetFiles(root: Path): (Int, Long) = {
    if (!Files.exists(root)) return (0, 0L)
    val s = Files.walk(root)
    try {
      val fs = s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      (fs.size, fs.map(Files.size).sum)
    } finally s.close()
  }

  private def parquetTables(d: String): WikidataTables = {
    def r(n: String) = spark.read.parquet(s"$d/$n")
    WikidataTables(r("meta"), r("string"), r("entity"), r("coordinates"), r("quantity"),
      r("time"), r("none"), r("unknown"))
  }

  private def snapshotTables(root: String): WikidataTables = {
    def r(n: String) = SnapshotTable.read(spark, s"$root/$n")
    WikidataTables(r("meta"), r("string"), r("entity"), r("coordinates"), r("quantity"),
      r("time"), r("none"), r("unknown"))
  }

  private var queryTables: WikidataTables = _
  private val snapshotRoot = dir("snapshot")

  /** serve_mix's base tables: the dump ETL'd to parquet, which the README
    * queries read, and the same tables committed as snapshot version 0,
    * which the changesets update. */
  private def base(round: Int): Unit = if (workload == "serve_mix") {
    val d = dir(s"base$round")
    timedPass(input(exp.get("dump").get("path").asText), d)
    queryTables = parquetTables(d)
    deleteTree(Paths.get(snapshotRoot))
    tracer("snapshot.commit_base") {
      names.foreach(n => SnapshotTable.commit(spark, s"$snapshotRoot/$n", spark.read.parquet(s"$d/$n")))
    }
  }

  /** Latest snapshot version before the first timed changeset. */
  private var baseVersion = 0L

  /** Warm-up, in every set-up round: each op family once on the new
    * session, so class loading, generated code and the JIT are paid before
    * timing; etl_dump has no base tables and warms up with an untimed pass
    * over its dump. Warm-up answers are not checked; the timed ops check the
    * same paths. */
  private def warmup(round: Int): Unit = tracer("session.warmup")(tracer.muted {
    workload match {
      case "etl_dump" =>
        etlPass(input(exp.get("dump").get("path").asText), dir(s"warm$round"))
      case _ =>
        val api = QueryApi(queryTables)
        exp.get("queries").elements().asScala.take(MixLength).foreach(q => query(api, q))
        // re-puts of unchanged entities: the whole commit path, same state
        val base = names.map(n => n -> SnapshotTable.read(spark, s"$snapshotRoot/$n")).toMap
        IncrementalEtl.applyCommit(spark, base,
          IncrementalEtl.readChangeset(spark, input(exp.get("warm_changeset").asText)), snapshotRoot)
        QueryApi(snapshotTables(snapshotRoot)).byId("Q1").collect()
    }
  })

  private def setup(): Unit = {
    for (round <- 0 until Main.Setups) {
      tracer.op = -1 - round
      val a = now
      startSession()
      base(round)
      warmup(round)
      setupS += (now - a) / 1e9
    }
    if (workload == "serve_mix")
      baseVersion = SnapshotTable.latestVersion(s"$snapshotRoot/meta").get
  }

  // ---- timed ops ----

  private def runOp(i: Int, step: Int, kind: String, family: String, traced: Boolean)(
      body: => (Boolean, String)): Unit = withMeter(traced) {
    tracer.enabled = traced
    tracer.op = i
    opFacts.clear(); probeWork = Counters(); probeActions.clear(); probeBusyMs = 0L
    val spansBefore = tracer.spans.size
    if (traced) Bus.drain(spark.sparkContext)
    val before = if (traced) meter.snapshot else null
    val wallStart = System.currentTimeMillis()
    val a = now
    val (ok, note) =
      try tracer(kind)(body)
      catch { case e: Exception => (false, s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val ms = (now - a) / 1e6
    val wallEnd = System.currentTimeMillis()
    tracer.enabled = false
    val probeMs = probeMsSince(spansBefore)
    val f = mutable.Map.empty[String, Double]
    if (traced) {
      Bus.drain(spark.sparkContext)
      val d = meter.snapshot - before - probeWork
      val acts = meter.actionsSince(before.actions).zipWithIndex
        .collect { case (x, k) if !probeActions(before.actions + k) => x }
      val busy = meter.busyMs(wallStart, wallEnd) - probeBusyMs
      f ++= Seq(
        "spark.jobs" -> d.jobs, "spark.stages" -> d.stages, "spark.tasks" -> d.tasks,
        "spark.task_run_s" -> d.runMs / 1e3, "spark.task_cpu_s" -> d.cpuNs / 1e9,
        "spark.gc_s" -> d.gcMs / 1e3, "spark.shuffle_write_mb" -> d.shuffleWrite / 1e6,
        "spark.shuffle_read_mb" -> d.shuffleRead / 1e6, "spark.spill_mb" -> d.spill / 1e6,
        "spark.input_mb" -> d.input / 1e6, "spark.output_mb" -> d.output / 1e6,
        "driver.plan_ms" -> acts.map(_.planMs).sum, "driver.actions" -> acts.size.toDouble,
        "driver.gap_s" -> ((wallEnd - wallStart - probeMs) - busy) / 1e3,
        "files" -> acts.map(_.files).sum.toDouble,
        "rows_scanned" -> acts.map(_.rowsScanned).sum.toDouble,
        "records_out" -> d.recordsOut.toDouble)
      f ++= opFacts
      tracedFacts(kind, spansBefore, acts, f)
    }
    if (!ok) problems += s"op $i: $note"
    ops += Op(i, step, kind, family, ms, traced, ok, probeMs, f.toMap, note)
  }

  /** Per-layer facts of one traced op, from its spans and actions. */
  private def tracedFacts(kind: String, spansBefore: Int, acts: Seq[Action],
      f: mutable.Map[String, Double]): Unit = {
    val spans = tracer.spans.drop(spansBefore)
    def spanMs(n: String) = spans.filter(_.name == n).map(_.ms).sum
    kind match {
      case "etl_pass" => // its layers are recorded by timedPass
      case "commit" =>
        // the commit's eight table writes: their run time, and the planning
        // of the merged frames they write
        val writes = acts.filter(_.writePath.exists(_.contains(snapshotRoot)))
        val writeMs = writes.map(_.durationMs).sum
        f("snapshot.write_s") = writeMs / 1e3
        f("snapshot.publish_ms") = spanMs("incr.commit") - writeMs
        f("incr.plan_ms") = writes.map(_.planMs).sum
      case _ =>
        f("api.plan_ms") = spanMs("api.plan")
        f("api.exec_ms") = spanMs("api.exec")
    }
  }

  /** The closed loop, one client, in whole steps (an ETL pass, or a
    * serve_mix cycle) started while the window is open, so that how many
    * steps run does not hinge on whether the last one would fit. A traced
    * run traces steps in the order untraced, traced, traced, untraced, ...,
    * so that warming up over the run favours neither side, and runs at
    * least four steps. serve_mix cycles are: commit the next changeset, read
    * the probe entity back from the new version, then one round of the
    * README query mix over the parquet base tables. */
  private def measure(): Unit = {
    val end = now + (seconds * 1e9).toLong
    var step = 0
    def another(more: Boolean): Boolean = more && (now < end || (trace && step < 4))
    def traced = trace && (step % 4 == 1 || step % 4 == 2)
    def stepped(): Unit = step += 1
    workload match {
      case "etl_dump" =>
        while (another(true)) {
          val d = dir(s"pass$step")
          runOp(step, step, "etl_pass", "etl", traced)(
            checkRejects(timedPass(input(exp.get("dump").get("path").asText), d).entities))
          stepped()
        }
      case "serve_mix" =>
        val cs = exp.get("changesets").elements().asScala.toSeq
        val qs = exp.get("queries").elements().asScala.toSeq
        val api = QueryApi(queryTables)
        var i, q = 0
        while (another(committed < cs.size)) {
          val c = cs(committed)
          runOp(i, step, "commit", "update", traced)(commit(c, baseVersion + committed + 1))
          runOp(i + 1, step, "fresh_read", "fresh", traced)(freshRead(c))
          i += 2
          committed += 1
          for (_ <- 0 until MixLength) {
            val x = qs(q % qs.size)
            runOp(i, step, x.get("op").asText, x.get("family").asText, traced)(query(api, x))
            i += 1
            q += 1
          }
          stepped()
        }
    }
  }

  /** Queries per cycle: one pass over gen.py's MIX, so every cycle has the
    * same composition. */
  private val MixLength = exp.path("mix_length").asInt(0)
  private val queryFamilies = Set("lookup", "search", "path")

  private var committed = 0

  private def checkRejects(entities: Long): (Boolean, String) = {
    val d = exp.get("dump")
    val rejected = lines - framing - entities
    val ok = rejected == d.get("rejected").asLong && entities == d.get("entities").asLong
    (ok, if (ok) "" else s"entities $entities, rejected $rejected; planted ${d.get("rejected").asLong}")
  }

  /** Lines and framing lines of the dump, counted from the file itself
    * when the run starts, so no timed op pays for reading it. */
  private val (lines, framing) = {
    val s = Files.lines(Paths.get(input(exp.get("dump").get("path").asText)), UTF_8)
    try s.iterator().asScala.foldLeft((0L, 0L)) { case ((n, f), l) =>
      (n + 1, if (Set("", "[", "]").contains(l.trim)) f + 1 else f)
    } finally s.close()
  }

  private def query(api: QueryApi, q: JsonNode): (Boolean, String) = {
    val op = q.get("op").asText
    def longs(n: JsonNode) = n.elements().asScala.map(_.asLong).toSeq
    val df = tracer("api.build")(op match {
      case "byLabel" => api.byLabel(q.get("label").asText)
      case "byId" => api.byId(q.get("id").asText)
      case "claimsOf" => api.claimsOf(q.get("entity").asLong)
      case "withEntityClaim" => api.withEntityClaim(q.get("property").asLong, q.get("value").asLong)
      case "conjunctive" => api.conjunctiveEntitySearch(
        q.get("conjuncts").elements().asScala.map(c => { val Seq(p, v) = longs(c); (p, v) }).toSeq)
      case "path" => api.path(q.get("expr").asText)
    })
    if (tracer.enabled) tracer("api.plan")(df.queryExecution.executedPlan)
    val rows = tracer("api.exec")(df.collect()).toSeq
    if (tracer.enabled) {
      opFacts("rows_out") = rows.size
      if (op == "path") fact("path.plan_nodes", Plans.nodes(df.queryExecution.analyzed).toDouble)
    }
    val cols = op match {
      case "withEntityClaim" => Seq("id", "property_id", "entity_id")
      case "claimsOf" => Seq("id", "property_id", "value_kind")
      case "path" => Seq("src", "dst")
      case _ => Seq("id", "label", "description")
    }
    val got = Digest.of(rows, cols)
    (got.matches(q), s"$op answer $got, expected ${q.get("rows")} rows, hash ${q.get("hash").asText}")
  }

  private def commit(c: JsonNode, version: Long): (Boolean, String) = {
    val before = if (tracer.enabled) parquetFiles(Paths.get(snapshotRoot)) else (0, 0L)
    val base = tracer("snapshot.resolve_base")(
      names.map(n => n -> SnapshotTable.read(spark, s"$snapshotRoot/$n")).toMap)
    val changes = IncrementalEtl.readChangeset(spark, input(c.get("path").asText))
    if (tracer.enabled) probe("incr.count") {
      val win = IncrementalEtl.winners(changes)
      fact("incr.changes", changes.count().toDouble)
      fact("incr.winners", win.count().toDouble)
      fact("incr.deletes", win.filter(col("c.deleted")).count().toDouble)
    }
    val versions = tracer("incr.commit")(IncrementalEtl.applyCommit(spark, base, changes, snapshotRoot))
    if (tracer.enabled) {
      val after = parquetFiles(Paths.get(snapshotRoot))
      fact("snapshot.files_per_commit", (after._1 - before._1).toDouble)
      fact("snapshot.mb_per_commit", (after._2 - before._2) / 1e6)
      fact("snapshot.write_amp", (after._2 - before._2).toDouble / c.get("bytes").asLong)
    }
    (versions.values.forall(_ == version), s"commit versions $versions, expected $version")
  }

  private def freshRead(c: JsonNode): (Boolean, String) = {
    val tables = tracer("snapshot.resolve")(snapshotTables(snapshotRoot))
    val df = tracer("api.build")(QueryApi(tables).byId(c.get("probe").asText))
    if (tracer.enabled) tracer("api.plan")(df.queryExecution.executedPlan)
    val rows = tracer("api.exec")(df.collect()).toSeq
    if (tracer.enabled) opFacts("rows_out") = rows.size
    val got = Digest.of(rows, Digest.columns("meta"))
    val ok = got.rows == c.get("probe_rows").asLong && got.hex == c.get("probe_hash").asText
    (ok, s"fresh read of ${c.get("probe").asText}: $got")
  }

  // ---- end-of-run checks ----

  private def checkTables(label: String, t: WikidataTables, e: JsonNode): Boolean = {
    val bad = names.flatMap { n =>
      val got = Digest.table(t.byName(n), n)
      if (got.matches(e.get(n))) None
      else Some(s"$label $n: $got, expected ${e.get(n)}")
    }
    problems ++= bad
    bad.isEmpty
  }

  private def finish(): Unit = workload match {
    case "etl_dump" =>
      // every timed pass's output against the generator's tables, one read
      // per table over all passes
      val bad = mutable.Set.empty[Int]
      for (n <- names) {
        val all = spark.read.parquet(ops.map(o => dir(s"pass${o.i}", n)).toSeq: _*)
          .withColumn("pass_dir", input_file_name())
        val byPass = Digest.rows(all, n, "pass_dir").groupBy { r =>
          val p = r.getAs[String]("pass_dir")
          p.substring(p.lastIndexOf("/pass") + 5).takeWhile(_.isDigit).toInt
        }
        for (o <- ops) {
          val got = Digest.of(byPass.getOrElse(o.i, Seq.empty), Digest.columns(n))
          if (!got.matches(exp.get("tables").get(n))) {
            bad += o.i
            problems += s"pass ${o.i} $n: $got, expected ${exp.get("tables").get(n)}"
          }
        }
      }
      ops.indices.foreach { k =>
        if (bad(ops(k).i)) ops(k) = ops(k).copy(ok = false, note = "tables differ")
      }
    case "serve_mix" =>
      extraAttempted += 1
      if (!checkTables("base", queryTables, exp.get("tables"))) extraFailed += 1
      // the W22 contract: the latest version equals a from-scratch ETL of
      // the equivalent full dump, whose tables the generator derived
      extraAttempted += 1
      val latest = SnapshotTable.latestVersion(s"$snapshotRoot/meta").getOrElse(-1L)
      val e = if (committed == 0) exp.get("tables")
        else exp.get("changesets").get(committed - 1).get("tables")
      val atVersion = latest == baseVersion + committed
      if (!atVersion) problems += s"latest version $latest after $committed commits"
      if (!(atVersion && checkTables(s"version $latest", snapshotTables(snapshotRoot), e)))
        extraFailed += 1
      if (trace) {
        fact("snapshot.versions", (latest + 1).toDouble)
        val live = names.flatMap(n => SnapshotTable.filesOf(s"$snapshotRoot/$n")
          .map(f => Files.size(Paths.get(snapshotRoot, n).resolve(f)))).sum
        fact("snapshot.space_amp", parquetFiles(Paths.get(snapshotRoot))._2.toDouble / live)
      }
  }

  // ---- metrics ----

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least 10 samples beyond it: the value
    * with 10 larger ones, as (value, percentile, n). Reported only from 20
    * samples on, where that percentile is above the median. */
  private def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n < 11) (Double.NaN, Double.NaN, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** The ops op_p50_ms covers: ETL passes, or serve_mix's README queries. */
  private def primary: Seq[Op] =
    ops.filter(o => o.kind == "etl_pass" || queryFamilies(o.family)).toSeq

  private def ms(os: Seq[Op]) = os.filter(!_.traced).map(_.ms)

  /** op_p50_ms's samples: per loop step, the summed time of its primary ops
    * (an ETL pass, or one round of the query mix, so each query pattern
    * counts by its cost), over the traced or the untraced steps; traced
    * steps without their probes' time. */
  private def stepMs(traced: Boolean): Seq[Double] =
    primary.filter(_.traced == traced).groupBy(_.step).values
      .map(_.map(o => o.ms - o.probeMs).sum).toSeq

  def run(): Unit = {
    deleteTree(work.toPath)
    Files.createDirectories(work.toPath)
    tracer.enabled = trace
    setup()
    tracer.enabled = false
    val started = now
    measure()
    val measured = now
    finish()
    spark.stop()
    val finished = now

    val result = Json.mapper.createObjectNode()
    val attempted = ops.size + extraAttempted
    val failed = ops.count(!_.ok) + extraFailed
    result.put("correct", failed == 0 && problems.isEmpty)
    result.put("attempted", attempted)
    result.put("failed", failed)
    val metrics = result.putObject("metrics")
    // a layer a workload does not run reads 0; an end-to-end metric must exist
    def metric(o: ObjectNode, name: String, v: Double, unit: String): Unit = {
      require(trace || !v.isNaN && !v.isInfinite, s"no samples for $name")
      o.putObject(name).put("value", if (v.isNaN || v.isInfinite) 0.0 else v).put("unit", unit)
    }

    val main = ms(primary)
    // throughput over the timed passes, or for serve_mix over the warm
    // set-up passes (the first one is cold)
    val etl = passes.filter(p => !p.traced && p.round != 0).toSeq
    val etlMbps = etl.map(_.dumpBytes).sum / 1e6 / (etl.map(_.ms).sum / 1e3)
    val untraced = ms(ops.toSeq)
    val opsPerS = untraced.size / (untraced.sum / 1e3)
    if (!trace) {
      metric(metrics, "setup_s", median(setupS.toSeq), "s")
      metric(metrics, "etl_mb_per_s", etlMbps, "MB/s")
      metric(metrics, "op_p50_ms", median(stepMs(traced = false)), "ms")
      metric(metrics, "ops_per_s", opsPerS, "1/s")
    } else layerMetrics(metrics, metric)

    // the workload's own view: per-family medians, tails where the sample
    // supports one (with percentile and sample count), and run facts
    val detail = result.putObject("detail")
    detail.put("workload", workload).put("cpus", cpus).put("trace", trace)
      .put("failed_frac", if (attempted == 0) 1.0 else failed.toDouble / attempted)
      .put("setup_s", median(setupS.toSeq)).put("cold_setup_s", setupS.head)
      .put("peak_rss_mb", peakRssMb)
      .put("start_to_measure_s", (started - t0) / 1e9)
      .put("measure_s", (measured - started) / 1e9).put("check_s", (finished - measured) / 1e9)
    val dump = exp.get("dump")
    detail.put("dump_mb", dump.get("bytes").asLong / 1e6).put("dump_entities", dump.get("entities").asLong)
    def fam(f: String) = ms(ops.filter(_.family == f).toSeq)
    def timing(name: String, xs: Seq[Double]): Unit = {
      val (t, p, k) = tail(xs)
      detail.put(name + "_p50_ms", median(xs)).put(name + "_n", k)
      if (k >= 20) detail.put(name + "_tail_ms", t).put(name + "_tail_percentile", p)
    }
    detail.put("etl_mb_per_s", etlMbps).put("etl_passes", passes.count(!_.traced))
    workload match {
      case "etl_dump" => timing("pass", main)
      case "serve_mix" =>
        timing("round", stepMs(traced = false))
        timing("query", main)
        Seq("lookup", "search", "path").foreach(f => timing(f, fam(f)))
        timing("update", fam("update"))
        timing("fresh_read", fam("fresh"))
    }
    val probs = result.putArray("problems")
    problems.take(20).foreach(probs.add)
    val opsJson = result.putArray("ops")
    ops.foreach { o =>
      val j = opsJson.addObject().put("i", o.i).put("kind", o.kind).put("family", o.family)
        .put("ms", o.ms).put("traced", o.traced).put("ok", o.ok).put("probe_ms", o.probeMs)
      if (o.note.nonEmpty && !o.ok) j.put("note", o.note)
      if (o.facts.nonEmpty) { val f = j.putObject("facts"); o.facts.foreach { case (k, v) => f.put(k, v) } }
    }
    val setupJson = result.putArray("setup_s")
    setupS.foreach(s => setupJson.add(s))
    if (trace) result.set[JsonNode]("spans", tracer.toJson)
    Json.mapper.writeValue(out, result)
  }

  /** The per-layer metrics of a traced run; a layer the workload does not
    * run reads 0. Per-op figures are means over the traced ops. */
  private def layerMetrics(metrics: ObjectNode, metric: (ObjectNode, String, Double, String) => Unit): Unit = {
    val traced = ops.filter(_.traced).toSeq
    def perOp(k: String, os: Seq[Op] = traced) = mean(os.flatMap(_.facts.get(k)))
    def spanMed(n: String) = median(tracer.named(n).map(_.ms))
    def factMed(k: String) = median(facts.getOrElse(k, ArrayBuffer.empty).toSeq)

    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.input_mb" -> "MB", "spark.output_mb" -> "MB", "driver.plan_ms" -> "ms",
      "driver.gap_s" -> "s", "driver.actions" -> "count")
      .foreach { case (k, u) => metric(metrics, k, perOp(k), u) }

    // the first session start is the cold one a user pays; warm-up is the
    // run's total
    metric(metrics, "session.start_s", tracer.named("session.start").head.ms / 1e3, "s")
    metric(metrics, "session.warmup_s", tracer.named("session.warmup").map(_.ms).sum / 1e3, "s")

    val parses = passes.filter(_.traced).toSeq
    val dumpMb = exp.get("dump").get("bytes").asLong / 1e6
    val parseS = median(parses.map(_.parseMs / 1e3))
    metric(metrics, "reader.parse_s", parseS, "s")
    metric(metrics, "reader.mb_per_s", dumpMb / parseS, "MB/s")
    metric(metrics, "reader.lines", lines.toDouble, "count")
    metric(metrics, "reader.framing_skipped", framing.toDouble, "count")
    val entities = median(parses.map(_.entities.toDouble))
    metric(metrics, "reader.entities", entities, "count")
    metric(metrics, "reader.rejected", lines - framing - entities, "count")

    metric(metrics, "etl.route_s", spanMed("etl.route") / 1e3, "s")
    metric(metrics, "etl.claims", factMed("etl.claims"), "count")
    metric(metrics, "etl.rows_out", factMed("etl.rows_out"), "count")
    metric(metrics, "etl.route_codegen_frac", factMed("etl.route_codegen_frac"), "fraction")

    metric(metrics, "sink.write_s", spanMed("sink.write") / 1e3, "s")
    names.foreach(n => metric(metrics, s"sink.write_s.$n", factMed(s"sink.write_s.$n"), "s"))
    metric(metrics, "sink.files", factMed("sink.files"), "count")
    metric(metrics, "sink.mb_out", factMed("sink.mb_out"), "MB")
    metric(metrics, "sink.out_per_in", factMed("sink.out_per_in"), "ratio")

    val reads = traced.filter(o => queryFamilies(o.family))
    for (f <- Seq("lookup", "search", "path")) {
      val os = reads.filter(_.family == f)
      metric(metrics, s"api.plan_ms.$f", median(os.flatMap(_.facts.get("api.plan_ms"))), "ms")
      metric(metrics, s"api.exec_ms.$f", median(os.flatMap(_.facts.get("api.exec_ms"))), "ms")
    }
    metric(metrics, "api.jobs_per_op", perOp("spark.jobs", reads), "count")
    metric(metrics, "api.tasks_per_op", perOp("spark.tasks", reads), "count")
    metric(metrics, "api.files_per_op", perOp("files", reads), "count")
    val rowsOut = reads.flatMap(_.facts.get("rows_out")).sum
    metric(metrics, "api.rows_scanned_per_row_out",
      if (rowsOut == 0) 0.0 else reads.flatMap(_.facts.get("rows_scanned")).sum / rowsOut, "ratio")
    val paths = reads.filter(_.family == "path")
    metric(metrics, "path.jobs_per_op", perOp("spark.jobs", paths), "count")
    metric(metrics, "path.plan_nodes", factMed("path.plan_nodes"), "count")

    val commits = traced.filter(_.kind == "commit")
    metric(metrics, "incr.changes", factMed("incr.changes"), "count")
    metric(metrics, "incr.winners", factMed("incr.winners"), "count")
    metric(metrics, "incr.deletes", factMed("incr.deletes"), "count")
    metric(metrics, "incr.plan_ms", median(commits.flatMap(_.facts.get("incr.plan_ms"))), "ms")
    metric(metrics, "snapshot.versions", factMed("snapshot.versions"), "count")
    metric(metrics, "snapshot.resolve_ms", spanMed("snapshot.resolve"), "ms")
    metric(metrics, "snapshot.write_s", median(commits.flatMap(_.facts.get("snapshot.write_s"))), "s")
    metric(metrics, "snapshot.publish_ms", median(commits.flatMap(_.facts.get("snapshot.publish_ms"))), "ms")
    metric(metrics, "snapshot.files_per_commit", factMed("snapshot.files_per_commit"), "count")
    metric(metrics, "snapshot.mb_per_commit", factMed("snapshot.mb_per_commit"), "MB")
    metric(metrics, "snapshot.write_amp", factMed("snapshot.write_amp"), "ratio")
    metric(metrics, "snapshot.space_amp", factMed("snapshot.space_amp"), "ratio")

    // traced steps against the untraced steps of the same run, which run
    // without spans and listeners
    metric(metrics, "trace.overhead_frac",
      median(stepMs(traced = true)) / median(stepMs(traced = false)) - 1, "fraction")
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
