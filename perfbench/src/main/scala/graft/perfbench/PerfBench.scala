package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.operators.{Dedup, Pipeline}
import graft.sources.FormatIO

/** Closed-loop benchmark harness: one long-lived `GraftSession`, one
  * client, the next operation issued only when the previous one has
  * completed, and no session reset between operations.
  *
  * usage:
  *   PerfBench --mode oracle-sql --out <file>
  *   PerfBench --mode run --workload <clif_status|corpus_curate|wave_ingest>
  *     --seed <n> --units <n> --trace <0|1> --cores <n>
  *     --inputs <dir> --out <result.json> --spans <spans.jsonl>
  *     [--expected <dir>]
  *
  * `run` writes one JSON object to `--out`; `perfbench/run.py` turns it
  * into the benchmark's result line.
  */
object PerfBench {
  /** The reference-derived CLIF status queries. */
  val ClifQueries: Seq[String] = Seq("q_meta_extract", "q_meta_typed",
    "q_meta_yaml", "q_status_pivot", "q_status_matrix", "q_poc_registry",
    "q_latest_status", "q_incomplete_sites", "q_mention_rollup",
    "q_category_values", "q_category_append", "q_completion_rate",
    "q_federated_union")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    o("mode") match {
      case "oracle-sql" =>
        write(Paths.get(o("out")),
          Json(ClifQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
      case "run" => new Run(o).execute()
      case m => sys.error(s"unknown mode $m")
    }
  }

  def write(p: Path, s: String): Unit = Files.writeString(p, s + "\n")

  /** Minimal JSON rendering of maps, sequences, numbers and strings. */
  def Json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => Json(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Json(k.toString) + ": " + Json(x) }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(Json).mkString("[", ", ", "]")
    case other => Json(other.toString)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** One benchmark run of one workload. */
final class Run(o: Map[String, String]) {
  import PerfBench._

  private val mainEntryMs = System.currentTimeMillis()
  private val workload = o("workload")
  private val seed = o("seed").toLong
  private val units = o("units").toInt
  private val tracing = o("trace") == "1"
  private val cores = o("cores").toInt
  private val inputs = o("inputs")

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val t0 = System.nanoTime()
  private val spark: SparkSession =
    GraftSession.builder(s"local[$cores]", shufflePartitions = cores).getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionS = since(t0)
  private val trace = new Trace(spark.sparkContext)

  /** One completed operation of the closed loop. */
  private case class Sample(op: Int, kind: String, name: String,
      seconds: Double, ok: Boolean, measured: Boolean, leaked: Int)
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val rowsOut = mutable.HashMap.empty[Int, Long]
  private val detail = mutable.LinkedHashMap.empty[String, Any]
  private var nextOp = 0

  /** Run one operation, timed, then check its output, untimed. An
    * exception in either counts as a failed operation. */
  private def op[T](kind: String, name: String, measured: Boolean,
      traced: Boolean)(body: Int => T)(check: T => Boolean): Sample = {
    val id = nextOp
    nextOp += 1
    if (traced) trace.traceOp(id)
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val start = System.nanoTime()
    val out = try Some(trace.span(id, kind, "")(body(id))) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        None
    }
    val s = Sample(id, kind, name, since(start), out.exists(check), measured,
      spark.sparkContext.getPersistentRDDs.size - pinned)
    if (out.isDefined && !s.ok)
      System.err.println(s"[perfbench] $kind $name: output check failed")
    samples += s
    s
  }

  /** construct → plan → collect of one DataFrame-returning call. */
  private def query(id: Int, parent: String, prefix: String)(
      build: => DataFrame): (DataFrame, Array[Row]) = {
    val df = trace.span(id, "operators.construct", parent,
      Some(prefix + "construct"))(build)
    trace.span(id, "plans.plan", parent, Some(prefix + "plan"))(
      df.queryExecution.executedPlan)
    val rows = trace.span(id, "action", parent, Some(prefix + "action"))(
      df.collect())
    rowsOut(id) = rowsOut.getOrElse(id, 0L) + rows.length
    (df, rows)
  }

  // ---------------------------------------------------------------- checks

  private def render(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => java.lang.Double.toString(d)
    case f: java.lang.Float => java.lang.Double.toString(f.doubleValue)
    case n: java.lang.Byte => n.longValue.toString
    case n: java.lang.Short => n.longValue.toString
    case n: java.lang.Integer => n.longValue.toString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  /** Order-insensitive canonical form of a result: column names sorted,
    * then every row rendered in that column order, rows sorted. */
  private def canonical(columns: Seq[String], rows: Seq[Row]): Seq[String] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    order.map(columns).mkString("|") +:
      rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  /** Dedup.digestCol's normalization, recomputed outside the engine. */
  private def digest(text: String): String =
    md5Hex(text.trim.toLowerCase.replaceAll("\\s+", " "))

  private def splitOf(docId: Long): String =
    md5Hex(docId.toString).head match {
      case '0' | '1' => "test"
      case '2' | '3' => "val"
      case _ => "train"
    }

  private def texts(df: DataFrame): Map[Long, String] =
    df.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Curation invariants that hold for any seed: survivors come from
    * the input, at most one survives per exact digest (and none
    * repeats an already indexed digest), quality passes the gate and
    * the split follows the md5-nibble rule. */
  private def curatedOk(rows: Array[Row], input: Map[Long, String],
      indexed: collection.Set[String]): Boolean = {
    val ids = rows.map(_.getAs[Long]("doc_id"))
    val digests = ids.flatMap(input.get).map(digest)
    ids.forall(input.contains) &&
      digests.distinct.length == digests.length &&
      !digests.exists(indexed.contains) &&
      rows.forall(r => r.getAs[Double]("quality") >= 0.3) &&
      rows.forall(r => r.getAs[String]("split") == splitOf(r.getAs[Long]("doc_id")))
  }

  // ------------------------------------------------------------ workloads

  /** Untimed-by-the-loop set-up steps (index builds, warm-up), billed
    * to the set-up time. */
  private val setupSteps = mutable.LinkedHashMap.empty[String, Double]
  private def setup[T](step: String)(body: => T): T = {
    val t = System.nanoTime()
    val out = body
    setupSteps(step) = since(t)
    out
  }

  /** Closed loop: the next unit of work starts as soon as the previous
    * one is done. A run does a fixed number of units, so a faster host
    * does the same work in less time. */
  private def closedLoop(next: Int => Unit): Double = {
    val start = System.nanoTime()
    (0 until units).foreach(next)
    since(start)
  }

  /** Tracing overhead samples, each the traced minus the untraced
    * latency of one read-only operation run twice on the same input. */
  private val overheads = mutable.ArrayBuffer.empty[Double]

  /** Run `timed(traced)` once traced and once untraced, in an order that
    * alternates with `i`, and record the difference. */
  private def paired(i: Int)(timed: Boolean => Double): Unit = {
    val s = (if (i % 2 == 0) Seq(true, false) else Seq(false, true))
      .map(t => t -> timed(t)).toMap
    overheads += s(true) - s(false)
  }

  private def clifStatus(): Double = {
    val expected = ClifQueries.map { q =>
      val df = spark.read.parquet(s"${o("expected")}/$q.parquet")
      q -> canonical(df.columns.toSeq, df.collect().toSeq)
    }.toMap
    // a unit of work is a pass over all queries, in an order drawn from
    // the seed, so every run measures the same mix of queries
    val rng = new scala.util.Random(seed)
    def run(q: String, measured: Boolean, traced: Boolean): Sample =
      op(q, q, measured, traced) { id =>
        query(id, q, "")(SparkEntry.queries(q)(spark, inputs))
      } { case (df, rows) =>
        canonical(df.columns.toSeq, rows.toSeq) == expected(q)
      }
    def pass(p: Int, measured: Boolean): Unit =
      rng.shuffle(ClifQueries).zipWithIndex.foreach { case (q, i) =>
        if (measured && tracing)
          paired(p + i)(t => run(q, measured = t, traced = t).seconds)
        else run(q, measured, traced = false)
      }
    setup("warmup")(pass(0, measured = false))
    closedLoop(p => pass(p, measured = true))
  }

  private def corpusCurate(): Double = {
    val input = texts(spark.read.parquet(s"$inputs/documents.parquet"))
    var first: Option[Seq[String]] = None
    def curate(measured: Boolean, traced: Boolean): Double =
      op("curateCorpus", "curateCorpus", measured, traced) { id =>
        query(id, "curateCorpus", "")(Pipeline.curateCorpus(spark, inputs))
      } { case (df, rows) =>
        val out = canonical(df.columns.toSeq, rows.toSeq)
        if (first.isEmpty) first = Some(out)
        curatedOk(rows, input, Set.empty) && first.contains(out)
      }.seconds
    setup("warmup")(curate(false, false))
    closedLoop(i =>
      if (tracing) paired(i)(t => curate(measured = t, traced = t))
      else curate(true, false))
  }

  private val bucketedTables = Seq("mh" -> "bands", "mh" -> "digests",
    "cont" -> "postings", "cont" -> "sets", "cont" -> "prefixes")

  private def tableFiles(table: String): Seq[Path] = {
    val dir = Paths.get(new java.net.URI(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).toString))
    if (!Files.exists(dir)) Seq.empty
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .filter(p => !p.getFileName.toString.startsWith("_")).toSeq
  }

  private val filesWritten = mutable.HashMap.empty[Int, Int]
  private val waveDocs = mutable.HashMap.empty[Int, Int]
  private def indexFiles(idx: Map[String, String]): Int =
    bucketedTables.map { case (i, t) => tableFiles(s"${idx(i)}_$t").length }.sum

  private def waveIngest(): Double = {
    val base = s"$inputs/base"
    val waves = Files.list(Paths.get(s"$inputs/waves")).iterator().asScala
      .map(_.toString).toSeq.sortBy(p => Paths.get(p).getFileName.toString
        .stripSuffix(".parquet").toInt)
    val baseTexts = texts(spark.read.parquet(s"$base/documents.parquet"))
    val idx = Map("mh" -> "pb_mh", "cont" -> "pb_cont")
    setup("index_build") {
      Dedup.buildMinhashIndex(spark, base, idx("mh"))
      Dedup.buildContainmentIndex(spark, base, idx("cont"))
    }
    val indexed = mutable.Set(baseTexts.values.map(digest).toSeq: _*)
    var appended = 0L
    def wave(k: Int, measured: Boolean, traced: Boolean): Sample = {
      val input = texts(spark.read.parquet(waves(k)))
      val names = Seq(idx("mh"), idx("cont"))
      val epochs = names.map(FormatIO.committedEpoch(spark, _))
      val files = indexFiles(idx)
      val batch = spark.read.parquet(waves(k)).select("doc_id", "text")
      def read(id: Int): Array[Row] = query(id, "read", "read.")(
        Pipeline.curateIncrement(spark, idx("mh"), idx("cont"), batch))._2
      val s = op("wave", s"wave$k", measured, traced) { id =>
        var rows: Array[Row] = null
        // a traced wave also reads once untraced, against the same
        // index, for the tracing overhead; the write follows both
        def spannedRead(): Double = {
          rows = trace.span(id, "read", "wave")(read(id))
          trace.spanSeconds(id, "read")
        }
        if (traced) paired(k)(t => if (t) spannedRead() else
          op("read_untraced", s"wave$k", measured = false, traced = false)(read)(
            curatedOk(_, input, indexed)).seconds)
        else spannedRead()
        val survivors = batch.filter(col("doc_id").isin(
          rows.map(_.getAs[Long]("doc_id")).toSeq: _*))
        trace.span(id, "write", "wave") {
          trace.span(id, "operators.append_minhash", "write",
            Some("write.append_minhash"))(
            Dedup.appendToMinhashIndex(spark, idx("mh"), survivors))
          trace.span(id, "operators.append_containment", "write",
            Some("write.append_containment"))(
            Dedup.appendToContainmentIndex(spark, idx("cont"), survivors))
        }
        rows
      } { rows =>
        val ok = curatedOk(rows, input, indexed) &&
          names.map(FormatIO.committedEpoch(spark, _)) == epochs.map(_ + 1)
        val kept = rows.map(_.getAs[Long]("doc_id"))
        indexed ++= kept.map(i => digest(input(i)))
        appended += kept.length
        ok
      }
      filesWritten(s.op) = indexFiles(idx) - files
      waveDocs(s.op) = input.size
      s
    }
    // the first wave is the warm-up; the measured waves follow it
    require(units < waves.length, s"$units measured waves need ${units + 1} waves")
    setup("warmup")(wave(0, measured = false, traced = false))
    val wall = closedLoop(i => wave(i + 1, measured = true, traced = tracing))
    // fold the per-wave file accretion of every bucketed index table
    val tables = bucketedTables.map { case (i, t) => s"${idx(i)}_$t" }
    val rowsBefore = tables.map(t => spark.table(t).count())
    var before, after = 0L
    val compact = op("compact", "compact", measured = false, traced = tracing) { id =>
      tables.map(t => trace.span(id, "sources.compact", "compact",
        Some("compact"))(FormatIO.compactBucketedTable(spark, t)))
    } { stats =>
      before = stats.map(_.filesBefore).sum
      after = stats.map(_.filesAfter).sum
      stats.forall(st => st.filesAfter <= st.filesBefore) &&
        tables.map(t => spark.table(t).count()) == rowsBefore
    }
    val allTables = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(idx("mh")) || n.startsWith(idx("cont")))
    val bytes = allTables.flatMap(tableFiles).map(Files.size).sum
    detail("compact_s") = trace.spanSeconds(compact.op, "sources.compact")
    detail("files_before_compact") = before
    detail("files_after_compact") = after
    detail("docs_indexed") = baseTexts.size + appended
    detail("index_bytes_per_doc") = bytes.toDouble / (baseTexts.size + appended)
    wall
  }

  // --------------------------------------------------------------- report

  /** Per-operation means of each layer's numbers over the traced
    * measured operations, plus the tracing overhead: the median of the
    * paired traced-minus-untraced latencies. */
  private def perLayer(measured: Seq[Sample]): Map[String, Double] = {
    val ops = measured.map(_.op).filter(trace.isTraced)
    val n = math.max(1, ops.length).toDouble
    def spanMean(name: String) = ops.map(trace.spanSeconds(_, name)).sum / n
    def sum(phase: String)(f: Trace.Acc => Long): Double = ops.map { op =>
      Seq(phase, "read." + phase).map(p => f(trace.acc(op, p))).sum
    }.sum.toDouble
    def mean(phase: String)(f: Trace.Acc => Long): Double = sum(phase)(f) / n
    val writes = Seq("write.append_minhash", "write.append_containment")
    val actionS = ops.map(trace.spanSeconds(_, "action")).sum
    val compactOps = samples.filter(_.kind == "compact").map(_.op)
    val mb = 1024.0 * 1024.0
    Map(
      "operators.construct_s" -> spanMean("operators.construct"),
      "operators.construct_jobs" -> mean("construct")(_.jobs),
      "operators.append_minhash_s" -> spanMean("operators.append_minhash"),
      "operators.append_containment_s" -> spanMean("operators.append_containment"),
      "plans.plan_s" -> spanMean("plans.plan"),
      "scheduler.jobs" -> mean("action")(_.jobs),
      "scheduler.stages" -> mean("action")(_.stages),
      "scheduler.tasks" -> mean("action")(_.tasks),
      "scheduler.task_wait_s" -> {
        val tasks = sum("action")(_.tasks)
        if (tasks > 0) sum("action")(_.taskWaitMs) / 1e3 / tasks else 0.0
      },
      "executor.run_s" -> mean("action")(_.runMs) / 1e3,
      "executor.cpu_s" -> mean("action")(_.cpuNs) / 1e9,
      "executor.gc_s" -> mean("action")(_.gcMs) / 1e3,
      "executor.busy_frac" ->
        (if (actionS > 0) sum("action")(_.runMs) / 1e3 / (cores * actionS) else 0.0),
      "shuffle.write_bytes" -> mean("action")(_.shuffleWrite),
      "shuffle.read_bytes" -> mean("action")(_.shuffleRead),
      "shuffle.fetch_wait_s" -> mean("action")(_.fetchWaitMs) / 1e3,
      "shuffle.spill_bytes" -> mean("action")(_.spill),
      "storage.peak_mb" -> (if (ops.isEmpty) 0.0 else ops.map(trace.peakStorageBytes).max / mb),
      "storage.leaked_rdds" -> measured.map(_.leaked).sum / math.max(1, measured.length).toDouble,
      "sources.read_bytes" -> mean("action")(_.readBytes),
      "sources.rows_read_per_row_out" -> {
        val out = ops.map(rowsOut.getOrElse(_, 0L)).sum
        if (out > 0) sum("action")(_.readRecords) / out else 0.0
      },
      "sources.write_bytes" -> ops.map(op => writes.map(p => trace.acc(op, p).writeBytes).sum).sum / n,
      "sources.write_files" -> ops.map(filesWritten.getOrElse(_, 0)).sum / n,
      "sources.compact_s" -> compactOps.map(trace.spanSeconds(_, "sources.compact")).sum,
      "sources.files_before_compact" ->
        detail.getOrElse("files_before_compact", 0L).asInstanceOf[Long].toDouble,
      "sources.files_after_compact" ->
        detail.getOrElse("files_after_compact", 0L).asInstanceOf[Long].toDouble,
      "trace.overhead_s" -> median(overheads.toSeq))
  }

  /** Heap still in use after a full collection, with the session open:
    * what a long-lived session keeps, pinned blocks included. */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def execute(): Unit = {
    if (tracing) trace.start()
    val wall = workload match {
      case "clif_status" => clifStatus()
      case "corpus_curate" => corpusCurate()
      case "wave_ingest" => waveIngest()
      case w => sys.error(s"unknown workload $w")
    }
    trace.stop()
    val measured = samples.filter(s => s.measured)
    val lat = measured.map(_.seconds).toSeq
    val e2e = mutable.LinkedHashMap[String, Any](
      "session_s" -> sessionS,
      "main_entry_ms" -> mainEntryMs,
      "setup_steps_s" -> setupSteps,
      "setup_jvm_s" -> (sessionS + setupSteps.values.sum),
      "op_p50_s" -> median(lat),
      "ops_per_s" -> measured.length / wall,
      "retained_heap_mb" -> retainedHeapMb(),
      "peak_rss_mb" -> peakRssMb())
    workload match {
      case "clif_status" =>
        detail("query_p50_s") = median(lat)
        detail("query_p90_s") = quantile(lat, 0.9)
        detail("queries_per_s") = measured.length / wall
      case "corpus_curate" => detail("curate_p50_s") = median(lat)
      case _ =>
        val waveOps = measured.map(_.op)
        detail("wave_read_p50_s") = median(waveOps.map(trace.spanSeconds(_, "read")).toSeq)
        detail("wave_write_p50_s") = median(waveOps.map(trace.spanSeconds(_, "write")).toSeq)
        detail("docs_per_s") = waveOps.map(waveDocs).sum / measured.map(_.seconds).sum
    }
    val layers = if (tracing) perLayer(measured.toSeq) else Map.empty
    val perOp = measured.map(s => mutable.LinkedHashMap[String, Any](
      "op" -> s.op, "name" -> s.name, "s" -> s.seconds, "traced" -> trace.isTraced(s.op),
      "ok" -> s.ok, "leaked_rdds" -> s.leaked))
    write(Paths.get(o("out")), Json(mutable.LinkedHashMap[String, Any](
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "attempted" -> samples.length,
      "failed" -> samples.count(!_.ok),
      "measured_ops" -> measured.length,
      "measured_wall_s" -> wall,
      "end_to_end" -> e2e,
      "workload_metrics" -> detail,
      "per_layer" -> layers,
      "ops" -> perOp)))
    Files.write(Paths.get(o("spans")), trace.allSpans.map(s => Json(
      mutable.LinkedHashMap[String, Any]("op" -> s.op, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      .asJava)
    spark.stop()
  }
}
