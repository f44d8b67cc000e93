package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.ingest.{CopySink, Importer}
import graft.operators.{Dedup, Graph, Sim}

/** Minimal JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** One benchmark run: one workload, one seed, a closed loop with a single
  * client thread that issues each call after the previous one returns.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --splitdir DIR --expected FILE --out FILE [--scale sf0.01]
  * [--source SHA] [--commit REV]`. The last stdout line is the result JSON;
  * the full record (environment, per-operation records, per-layer
  * metrics) goes to `--out` and the spans next to it.
  */
object Main {

  /** Same session settings as graft.Bench, plus local scratch dirs. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  val sqlMixPrefixes = Seq("sql_", "agg_", "win_", "join_")
  /** join_bucketed reads a bucketed layout written in warm-up; the four
    * percentile/robust-mean aggregates read a persisted intermediate (an
    * InMemoryTableScan in a traced run). sql_mix keeps only queries whose
    * plans use no substrate.
    */
  val sqlMixExcluded = Set("join_bucketed", "agg_percentile_dist", "agg_percentile_grouped",
    "agg_percentile_weighted", "agg_robust_mean")
  val corpusPrefixes = Seq("dedup_", "sim_", "graph_", "text_", "emb_", "mm_", "pipeline_")

  /** Every `stride`-th query, in name order, of the families named by
    * `prefixes`. Name order keeps each family's share of the sample equal
    * to its share of the family set; the stride keeps one run inside its
    * time budget (a full pass over all families takes minutes).
    */
  def mix(prefixes: Seq[String], stride: Int, excluded: Set[String] = Set.empty): Seq[String] =
    SparkEntry.queries.keys.toSeq.filter(n => prefixes.exists(n.startsWith) && !excluded(n))
      .sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n }

  /** The ingest sources: as-given tables imported with a rename of every
    * column (TPC-H prefixes dropped) plus one absent source column, which
    * the importer projects as NULL.
    */
  val ingestTables = Seq("lineitem", "orders", "events", "documents", "embeddings")

  def columnMap(spark: SparkSession, path: String): Seq[(String, String)] =
    spark.read.parquet(path).columns.toSeq.map { c =>
      c -> (if (c.length > 2 && c(1) == '_') c.substring(2) else c)
    } :+ ("ingest_batch" -> "ingest_batch")

  /** Key shift of the derived corpus: file i holds a copy of lineitem with
    * l_orderkey + shift_i, shift_i a multiple of this.
    */
  val SplitShift = 1000000000L

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def loadavg(): Seq[String] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim.split(" ").take(3).toSeq
    catch { case _: Throwable => Seq("-1", "-1", "-1") }

  private def vmHwmMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val dataRoot = opt("data")
    val scale = opt.getOrElse("scale", "sf0.01")
    val dir = s"$dataRoot/$scale"
    val splitDir = opt.getOrElse("splitdir", "")
    val outFile = new File(opt("out"))
    val expected = Expected.load(opt("expected"), scale)
    val scratch = new File(sys.props("java.io.tmpdir")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val loadStart = loadavg()
    val runStart = System.nanoTime()

    val tracer = new Tracer(traced)
    val ops = mutable.ArrayBuffer[OpRecord]()
    val observed = mutable.LinkedHashMap[String, String]()

    // ---- set-up: session start plus the warm-up this workload needs, once,
    // in the fresh JVM: what a one-shot job pays before its first query ----
    val phases = mutable.LinkedHashMap[String, Double]()
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      phases(name) = (System.nanoTime() - t0) / 1e9
      r
    }
    val setupStart = System.nanoTime()
    val spark = tracer.span("setup") {
      val s = tracer.span("session")(phase("session")(session(cpus, scratch)))
      tracer.attach(s.sparkContext)
      def warm(name: String)(body: => Unit): Unit =
        tracer.span(s"warmup.$name", Some(s.sparkContext))(phase(name)(body))
      workload match {
        case "ingest_copy" =>
          warm("tables")(ingestTables.foreach(t => s.read.parquet(s"$dir/$t.parquet").count()))
        case _ =>
          warm("tables") {
            Tables.all.foreach(t => Tables(s, dir, t).count())
            s.range(1000000).selectExpr("id % 10 AS k").groupBy("k").count().count()
          }
          if (workload == "corpus_pipeline") {
            warm("dedup")(Dedup.prewarm(s, dir))
            warm("sim")(Sim.prewarm(s, dir))
            warm("graph")(Graph.prewarm(s, dir))
          }
      }
      s
    }
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val cacheInfo = {
      val infos = spark.sparkContext.getRDDStorageInfo
      (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.length.toDouble)
    }

    // ---- the operations of the workload ----
    val ops0: Seq[Op] = workload match {
      case "sql_mix" => mix(sqlMixPrefixes, 16, sqlMixExcluded).map(QueryOp(_))
      case "corpus_pipeline" => mix(corpusPrefixes, 10).map(QueryOp(_))
      case "ingest_copy" =>
        val maps = ingestTables.map(t => t -> columnMap(spark, s"$dir/$t.parquet")).toMap
        ingestTables.map(t => ImportOp(t, s"$dir/$t.parquet", maps(t))) ++
          Seq(ImportOp("lineitem_split", splitDir, maps("lineitem"))) ++
          ingestTables.map(t => CopyOp(t, s"$dir/$t.parquet", maps(t)))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val copyRoot = s"$scratch/copy"

    def runOp(op: Op, pass: Int, tracedPass: Boolean): OpRecord = {
      val sc = Some(spark.sparkContext)
      val t = if (tracedPass) tracer else Tracer.off
      var ok = false
      var note = ""
      var rows = 0L
      // result check of an ingest call, run after the timed interval;
      // returns "" when the output is correct
      var check: () => String = null
      val t0 = System.nanoTime()
      val spanId = t.span(op.name) {
        try {
          op match {
            case QueryOp(name) =>
              val fn = SparkEntry.queries(name)
              val df = t.span("build", sc)(fn(spark, dir))
              if (t.on) t.span("plan", sc) {
                df.queryExecution.executedPlan
                PlanShape.phases(df.queryExecution.tracker, t)
              }
              val (fpRows, fpHash, fpDf) = t.span("execute", sc) {
                val fpDf = Check.fingerprintFrame(df)
                val (r, h) = Check.collect(fpDf)
                (r, h, fpDf)
              }
              if (t.on) PlanShape.count(fpDf.queryExecution.executedPlan, t)
              rows = fpRows
              val got = s"$fpRows:$fpHash"
              observed(name) = got
              ok = expected.get(name).contains(got)
              if (!ok) note = s"fingerprint $got expected ${expected.getOrElse(name, "none")}"
            case ImportOp(table, path, cm) =>
              val r = t.span(s"import", sc) {
                Importer.importParquet(spark, path, table, cm, truncate = true,
                  normalizeValues = true, copyDir = Some(copyRoot))
              }
              rows = r.rowsImported
              t.record("ingest.rows", rows.toDouble)
              check = () => {
                val rewrite: String => String =
                  if (table == "lineitem_split") unshift else identity
                val txt = Check.copyText(new File(s"$copyRoot/$table"), rewrite)
                t.record("sink.bytes_written", txt.bytes.toDouble)
                val got = s"${r.rowsImported}:${txt.lines}:${txt.hash}"
                observed(s"import:$table") = got
                val want = expectedImport(table)
                if (want.contains(got)) ""
                else s"import $got expected ${want.getOrElse("none")}"
              }
              ok = true
            case CopyOp(table, path, cm) =>
              val df = t.span("build", sc)(
                Importer.normalize(Importer.project(spark.read.parquet(path), cm)))
              if (t.on) t.span("plan", sc) {
                df.queryExecution.executedPlan
                PlanShape.phases(df.queryExecution.tracker, t)
              }
              CountingTarget.reset()
              t.span("copy_into", sc) {
                CopySink.copyInto(df, table, () => new CountingTarget, batchSize = 5000)
              }
              val lines = CountingTarget.lines.get()
              rows = lines
              t.record("copysink.batches", CountingTarget.batches.get().toDouble)
              t.record("copysink.lines", lines.toDouble)
              t.record("ingest.rows", lines.toDouble)
              val got = s"$lines:$lines:${CountingTarget.hash.get()}"
              check = () => {
                // copyInto sends the same COPY lines the import wrote
                observed(s"copy:$table") = got
                if (expected.get(s"import:$table").contains(got)) ""
                else s"copy $got expected ${expected.getOrElse(s"import:$table", "none")}"
              }
              ok = true
          }
        } catch {
          case e: Throwable =>
            ok = false
            note = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        t.current
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // result checks of ingest calls run outside the timed interval
      if (ok && check != null) {
        note = check()
        ok = note.isEmpty
      }
      if (!ok) System.err.println(s"[perfbench] ${op.name} failed: $note")
      OpRecord(op.name, op.kind, pass, wall, ok, rows, note, if (tracedPass) spanId else 0L)
    }

    // the split corpus is `splitFiles` copies of lineitem, so once its key
    // shift is undone it must hash to that many times lineitem's COPY text
    lazy val splitFiles = Option(new File(splitDir).listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.endsWith(".parquet"))
    def expectedImport(table: String): Option[String] =
      if (table != "lineitem_split") expected.get(s"import:$table")
      else expected.get("import:lineitem").map { v =>
        v.split(":").map(x => (BigInt(x) * splitFiles).toLong).mkString(":")
      }

    def unshift(line: String): String = {
      val tab = line.indexOf('\t')
      val key = line.substring(0, tab).toLong % SplitShift
      key.toString + line.substring(tab)
    }

    // ---- first pass in the fresh session, then warm passes ----
    def order(pass: Int): Seq[Op] = new Random(seed * 1000003L + pass).shuffle(ops0)
    val passTimes = mutable.ArrayBuffer[PassTime]()
    val cg0 = Codegen.snapshot()
    def onePass(pass: Int, tracedPass: Boolean): Unit = {
      val sc = Some(spark.sparkContext)
      val recs = (if (tracedPass) tracer else Tracer.off).span(s"pass.$pass", sc) {
        order(pass).map(op => runOp(op, pass, tracedPass))
      }
      ops ++= recs
      // a pass takes the summed time of its operations, so the result
      // checks of ingest calls, which run between them, are not counted
      passTimes += PassTime(pass, tracedPass, recs.map(_.wall).sum)
    }
    onePass(0, traced)
    val cg1 = Codegen.snapshot()
    // warm passes: at least three, and more until `seconds` have elapsed;
    // warm_pass_s is their median. A traced run reports its own overhead
    // from untraced and traced passes in the order U T T U ..., so that
    // the passes still getting faster do not bias the difference
    val warmStart = System.nanoTime()
    val minPasses = if (traced) 4 else 3
    var pass = 1
    while (pass <= minPasses || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      onePass(pass, traced && pass % 4 >= 2)
      pass += 1
    }
    val cg2 = Codegen.snapshot()
    tracer.listener.foreach(_.drain())
    val peakRssMb = vmHwmMb()
    // what the session still holds once garbage is gone: cached substrates,
    // block manager, codegen caches. Peak RSS follows the collector's
    // heap sizing more than the program, so it is recorded, not gated.
    // Spark's ContextCleaner drops blocks of collected RDDs, shuffles and
    // broadcasts asynchronously after a GC: collect four times, a quarter
    // second apart, so that it catches up
    (1 to 4).foreach { _ =>
      System.gc()
      Thread.sleep(250)
    }
    val heapLiveMb =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val loadEnd = loadavg()

    // ---- metrics ----
    val warm = passTimes.filter(_.pass > 0)
    val untracedWarm = warm.filter(!_.traced).map(_.wall)
    val tracedWarm = warm.filter(_.traced).map(_.wall)
    val warmOps = ops.filter(o => o.pass > 0 && o.ok)
    val lat = warmOps.map(_.wall).toSeq
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val firstPass = passTimes.head.wall
    val warmPass = median(if (untracedWarm.nonEmpty) untracedWarm.toSeq else tracedWarm.toSeq)
    def rate(kind: String): Double = median(warm.map { p =>
      val calls = ops.filter(o => o.pass == p.pass && o.kind == kind)
      calls.map(_.rows).sum / calls.map(_.wall).sum
    }.toSeq)

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "first_pass_s" -> (firstPass, "s"),
      "warm_pass_s" -> (warmPass, "s"),
      "latency_p50_s" -> (quantile(lat, 0.5), "s"),
      "latency_p90_s" -> (quantile(lat, 0.9), "s"),
      "heap_live_mb" -> (heapLiveMb, "MB"),
      "peak_rss_mb" -> (peakRssMb, "MB"))
    val ingestRates = if (workload == "ingest_copy") Seq(
      "import_rows_per_s" -> rate("import"),
      "import_split_rows_per_s" -> rate("import_split"),
      "copy_rows_per_s" -> rate("copy")) else Nil
    val failRatio = failed.toDouble / attempted

    // per-layer: sums over the traced warm passes, per pass
    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    if (traced) {
      val tracedPasses = warm.filter(_.traced).map(_.pass).toSet
      val passSpans = tracer.spans.filter(s => s.parent == 0L && s.name.startsWith("pass.") &&
        tracedPasses(s.name.stripPrefix("pass.").toInt))
      val perPass = new Counts
      passSpans.foreach(s => perPass ++= tracer.subtree(s.id))
      val children = tracer.spans.groupBy(_.parent)
      def below(id: Long): Seq[Span] =
        children.getOrElse(id, Nil).toSeq.flatMap(s => s +: below(s.id))
      val inPasses = passSpans.toSeq.flatMap(s => below(s.id))
      val n = math.max(1, tracedPasses.size).toDouble
      def spanSum(name: String): Double =
        inPasses.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
      val units = Layers.units
      Layers.names.foreach { k =>
        val v: Double = k match {
          case "plan.build_s" => spanSum("build") / n
          case "codegen.compile_s" => cg1._1 - cg0._1
          case "codegen.classes" => (cg1._2 - cg0._2).toDouble
          case "codegen.warm_classes" => (cg2._2 - cg1._2) / (pass - 1).toDouble
          case w if w.startsWith("warmup.") =>
            phases.getOrElse(w.stripPrefix("warmup.").stripSuffix("_s"), 0.0)
          case "cache.mb" => cacheInfo._1
          case "cache.rdds" => cacheInfo._2
          case "ingest.import_s" => spanSum("import") / n
          case "ingest.copy_into_s" => spanSum("copy_into") / n
          case "ingest.import_rows_per_s" => rate("import")
          case "ingest.import_split_rows_per_s" => rate("import_split")
          case "ingest.copy_rows_per_s" => rate("copy")
          case "sink.bytes_per_row" =>
            val rowsImported = ops.filter(o => tracedPasses(o.pass) && o.kind.startsWith("import")).map(_.rows).sum
            if (rowsImported == 0) 0.0 else perPass("sink.bytes_written") / rowsImported
          case "trace.overhead_s" => median(tracedWarm.toSeq) - median(untracedWarm.toSeq)
          case "trace.overhead_pct" =>
            100.0 * (median(tracedWarm.toSeq) - median(untracedWarm.toSeq)) / median(untracedWarm.toSeq)
          case other => perPass(other) / n
        }
        layer(k) = (if (v.isNaN) 0.0 else v, units(k))
      }
    }

    // ---- record ----
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir" }
    val metricsOut = if (traced) layer else e2e
    def metricJson(m: Iterable[(String, (Double, String))]) =
      Json.obj(m.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> Json.num(seed.toDouble),
      "seconds" -> Json.num(seconds),
      "trace" -> Json.num(if (traced) 1 else 0),
      "scale" -> Json.str(scale),
      "commit" -> Json.str(opt.getOrElse("commit", "none")),
      "source_sha256" -> Json.str(opt.getOrElse("source", "")),
      "nproc" -> Json.num(cpus),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg_start" -> Json.arr(loadStart.map(Json.str)),
      "loadavg_end" -> Json.arr(loadEnd.map(Json.str)),
      "session_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "fail_ratio" -> Json.num(failRatio),
      "latency_samples" -> Json.num(lat.size),
      "setup_phases" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "passes" -> Json.arr(passTimes.map { p =>
        Json.obj(Seq("pass" -> Json.num(p.pass), "traced" -> p.traced.toString,
          "s" -> Json.num(p.wall))) }),
      "end_to_end" -> metricJson(e2e.toSeq ++ ingestRates.map { case (k, v) => k -> (v, "rows/s") } :+
        ("fail_ratio" -> (failRatio, "1"))),
      "per_layer" -> metricJson(layer),
      "per_op" -> perOpJson(ops.toSeq, tracer),
      "observed" -> Json.obj(observed.map { case (k, v) => k -> Json.str(v) }),
      "wall_s" -> Json.num((System.nanoTime() - runStart) / 1e9)))
    outFile.getParentFile.mkdirs()
    Files.write(outFile.toPath, (record + "\n").getBytes(UTF_8))
    if (traced) {
      val spansFile = new File(outFile.getPath.stripSuffix(".json") + ".spans.jsonl")
      Files.write(spansFile.toPath, tracer.toJsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "metrics" -> metricJson(metricsOut)))
    println(result)
  }

  /** Per-operation record: warm latency median, every execution time, failures and,
    * in a traced run, the summed layer counters of its traced calls.
    */
  private def perOpJson(ops: Seq[OpRecord], t: Tracer): String =
    Json.obj(ops.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, rs) =>
      val warm = rs.filter(_.pass > 0).map(_.wall)
      val layers = new Counts
      rs.filter(_.spanId != 0L).foreach(r => layers ++= t.subtree(r.spanId))
      name -> Json.obj(Seq(
        "first_s" -> Json.num(rs.find(_.pass == 0).map(_.wall).getOrElse(Double.NaN)),
        "warm_p50_s" -> Json.num(median(warm)),
        "walls_s" -> Json.arr(rs.sortBy(_.pass).map(r => Json.num(r.wall))),
        "failed" -> Json.num(rs.count(!_.ok)),
        "rows" -> Json.num(rs.head.rows.toDouble),
        "layers" -> Json.obj(layers.m.map { case (k, v) => k -> Json.num(v) })) ++
        rs.find(!_.ok).map(r => "error" -> Json.str(r.note)))
    })
}

sealed trait Op {
  def name: String
  def kind: String
}
final case class QueryOp(name: String) extends Op { def kind = "query" }
final case class ImportOp(table: String, path: String, columnMap: Seq[(String, String)]) extends Op {
  def name = s"import:$table"
  def kind = if (table.endsWith("_split")) "import_split" else "import"
}
final case class CopyOp(table: String, path: String, columnMap: Seq[(String, String)]) extends Op {
  def name = s"copy:$table"
  def kind = "copy"
}

final case class PassTime(pass: Int, traced: Boolean, wall: Double)

final case class OpRecord(name: String, kind: String, pass: Int, wall: Double,
    ok: Boolean, rows: Long, note: String, spanId: Long)

/** Expected fingerprints, one `name = value` line each, in sections named
  * after the scale (`[sf0.01]`).
  */
object Expected {
  def load(path: String, scale: String): Map[String, String] = {
    val f = new File(path)
    if (!f.exists()) return Map.empty
    var section = ""
    val out = mutable.LinkedHashMap[String, String]()
    scala.io.Source.fromFile(f, "UTF-8").getLines().map(_.trim).foreach { l =>
      if (l.startsWith("[") && l.endsWith("]")) section = l.drop(1).dropRight(1)
      else if (section == scale && l.contains("=") && !l.startsWith("#")) {
        val i = l.indexOf('=')
        out(l.take(i).trim) = l.drop(i + 1).trim
      }
    }
    out.toMap
  }
}
