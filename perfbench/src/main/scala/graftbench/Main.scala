package graftbench

import java.nio.file.{Files => JFiles, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One executed operation, with everything needed to replay and check it. */
final case class Rec(seq: Int, phase: String, pass: Int, op: Op,
    params: Seq[(String, String)], start: Double, latencyMs: Double,
    constructMs: Double, error: Option[String], rows: Option[(Array[Row], StructType)],
    resultPath: Option[String], tableBytes: Long, tableFiles: Int,
    sameAs: Option[Int] = None) {
  def ok: Boolean = error.isEmpty
}

/** Runs one workload: untimed set-up and warm-up, a timed closed loop with
  * one client thread, then writes the run record (operations, parameters,
  * failures, metrics) as `run.json` in the work directory. Outputs are
  * checked against DuckDB afterwards by run.py.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  *   <process start, epoch ms>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, startS) = args
    val seed = seedS.toLong
    val traced = traceS == "1"
    val startMs = startS.toLong
    val originNs = System.nanoTime()
    val originEpoch = System.currentTimeMillis()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, workload, seed, secondsS.toInt, traced, work,
      startMs, originNs, originEpoch, cores)
    try run.execute() finally spark.stop()
    if (run.fatal.nonEmpty) sys.exit(3)
  }
}

final class Run(spark: SparkSession, workloadName: String, seed: Long, seconds: Int,
    traced: Boolean, work: String, startMs: Long, originNs: Long,
    originEpoch: Long, cores: Int) {
  private val tracer = if (traced) Some(new Tracer(spark, originNs, originEpoch)) else None
  private val recs = mutable.ArrayBuffer.empty[Rec]
  private val passWalls = mutable.ArrayBuffer.empty[Double]
  private var token = ""
  private val wl = Workloads(workloadName, spark, work, seed)
  var fatal: Option[String] = None

  private def now: Double = (System.nanoTime() - originNs) / 1e6

  def execute(): Unit = {
    val resultDir = s"$work/results"
    val sessionMs = now
    val prepared = try wl.prepare() catch {
      case NonFatal(e) =>
        fatal = Some(s"input preparation failed: ${Run.cause(e)}")
        System.err.println(s"[perfbench] $workloadName: ${fatal.get}")
        writeRecord(Prepared(0, 0, Map.empty), Map.empty, 0, 0, 0, 0)
        return
    }
    val prepMs = now
    wl.warmup(resultDir).foreach { case (op, sink) => runOp(op, sink, "warmup", -1, resultDir) }
    val firstTimedEpoch = System.currentTimeMillis()
    val t0 = now
    val deadline = t0 + seconds * 1000.0
    var pass = 0
    // Closed loop: the next operation starts when the previous one returns.
    // Passes are whole, so every run measures the same mix of operations;
    // the last pass starts before the run time is spent.
    while (now < deadline) {
      val p0 = now
      wl.pass(pass).foreach { case (op, sink) => runOp(op, sink, "timed", pass, resultDir) }
      passWalls += (now - p0) / 1000.0
      pass += 1
    }
    val timedMs = now - t0
    val rssMb = Run.peakRssMb
    saveCollected(resultDir)
    val liveMb = Run.liveHeapMb
    val setupS = (firstTimedEpoch - startMs) / 1000.0
    writeRecord(prepared, Map("session_s" -> sessionMs / 1000.0,
      "prepare_s" -> (prepMs - sessionMs) / 1000.0,
      "warmup_s" -> (t0 - prepMs) / 1000.0, "process_to_jvm_s" ->
        (originEpoch - startMs) / 1000.0), setupS, timedMs, rssMb, liveMb)
  }

  private def runOp(op: Op, sink: Sink, phase: String, pass: Int, resultDir: String): Unit = {
    val seq = recs.size
    val params = op.params.map { case (k, v) => k -> (if (v == "@token") token else v) }
    val p = params.toMap
    val start = now
    var constructMs = 0.0
    var rows: Option[(Array[Row], StructType)] = None
    var resultPath: Option[String] = None
    var error: Option[String] = None
    def traced[T](part: String)(body: => T): T = tracer match {
      case Some(t) => t.span(s"op$seq.$part", s"op$seq", part, seq)(body)
      case None => body
    }
    def body(): Unit = {
      val df = traced("construct")(op.build(p))
      constructMs = now - start
      traced("execute") {
        op.write match {
          case Some(w) => w(df, p)
          case None => sink match {
            case Sink.Collect => rows = Some((df.collect(), df.schema))
            case Sink.Noop => df.write.format("noop").mode("overwrite").save()
            case Sink.Parquet(path) =>
              df.write.mode("overwrite").parquet(path); resultPath = Some(path)
          }
        }
      }
    }
    try tracer match {
      case Some(t) => t.inGroup(seq)(t.span(s"op$seq", "", "op", seq)(body()))
      case None => body()
    } catch {
      case NonFatal(e) =>
        error = Some(Run.cause(e))
        System.err.println(s"[perfbench] $workloadName $phase op$seq ${op.kind} " +
          s"${params.map { case (k, v) => s"$k=$v" }.mkString(" ")} FAILED: ${error.get}")
    }
    val latency = now - start
    tracer.foreach(_.finishOp(seq))
    if (op.kind == "listObjectsV2Page")
      token = rows.flatMap(_._1.headOption).map(_.getAs[String]("next_token")).getOrElse("")
    // Size of the table this operation wrote or read back, as it is now.
    val (bytes, files) = op.writtenPath.map { path =>
      val fs = Files.dataFiles(new java.io.File(path)); (fs.map(_.length).sum, fs.size)
    }.getOrElse((0L, 0))
    recs += Rec(seq, phase, pass, op, params, start, latency, constructMs, error,
      rows, resultPath, bytes, files)
  }

  /** Writes each collected result as parquet for the DuckDB check. A
    * request repeated with the same parameters is saved once: each repeat
    * must return the same rows as the first, in any order, or it fails.
    */
  private def saveCollected(resultDir: String): Unit = {
    val first = mutable.Map.empty[(String, Seq[(String, String)]), (Int, Seq[String])]
    recs.indices.foreach { i =>
      val r = recs(i)
      r.rows.foreach { case (rows, schema) =>
        val rowSet = rows.map(_.toString).sorted.toSeq
        first.get((r.op.kind, r.params)) match {
          case Some((seq, firstRows)) => recs(i) = r.copy(rows = None, sameAs = Some(seq),
            error = if (rowSet == firstRows) None
              else Some(s"rows differ from the first result of the same request (op$seq)"))
          case None =>
            first((r.op.kind, r.params)) = (r.seq, rowSet)
            val path = s"$resultDir/op${r.seq}"
            try {
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(path)
              recs(i) = r.copy(resultPath = Some(path), rows = None)
            } catch {
              case NonFatal(e) => recs(i) = r.copy(
                error = Some(s"result could not be saved for the check: ${Run.cause(e)}"))
            }
        }
      }
    }
  }

  private def writeRecord(prepared: Prepared, setupParts: Map[String, Double],
      setupS: Double, timedMs: Double, rssMb: Double, liveMb: Double): Unit = {
    val timed = recs.filter(_.phase == "timed")
    val lat = timed.filter(r => r.ok && wl.isLatencyOp(r.op)).map(_.latencyMs).toSeq
    val writes = timed.filter(r => r.ok && r.op.write.nonEmpty)
    // Only ingest writes through graft in its timed phase. Every workload
    // reports the same metric set, so on the others write_mb_per_s is the
    // throughput of graft's own write in the set-up; `write_mb_per_s_source`
    // in the record says which.
    val (writeMbPerS, writeSource) =
      if (writes.nonEmpty) (writes.map(_.tableBytes).sum / 1e6 /
        (writes.map(_.latencyMs).sum / 1e3), "timed sources.* writes")
      else (if (prepared.graftWriteS > 0) prepared.graftBytes / 1e6 / prepared.graftWriteS
        else 0.0, prepared.graftWriter)
    val metrics = Map(
      "setup_s" -> ((setupS, "s")),
      "live_heap_mb" -> (liveMb, "MB"),
      "op_p50_ms" -> ((Stats.quantile(lat, 0.5), "ms")),
      "op_p90_ms" -> ((Stats.quantile(lat, 0.9), "ms")),
      "ops_per_s" -> ((if (timedMs > 0) timed.count(_.ok) / (timedMs / 1000.0) else 0.0, "1/s")),
      "pass_s" -> (Stats.quantile(passWalls.toSeq, 0.5), "s"),
      "write_mb_per_s" -> (writeMbPerS, "MB/s"))
    val layers = tracer.map(t => Layers(t, timed.toSeq, lat, cores, passWalls.toSeq))
    val env = Map("nproc" -> cores, "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString)
    val record = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "env" -> env, "fatal" -> fatal,
      "setup" -> (setupParts ++ Map("graft_write_bytes" -> prepared.graftBytes.toDouble,
        "graft_write_s" -> prepared.graftWriteS)), "input" -> prepared.info,
      "peak_rss_mb" -> rssMb,
      "samples" -> Map("latency" -> lat.size, "passes" -> passWalls.size,
        "timed_ops" -> timed.size),
      "pass_walls_s" -> passWalls, "write_mb_per_s_source" -> writeSource,
      "prelude" -> NamespaceSql.prelude,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers.map(l => ListMap(l.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*)),
      "self_ms" -> layers.map(_.selfMs), "plan_fanout" -> layers.map(_.fanoutByTable),
      "ops" -> recs.map { r =>
        Map("seq" -> r.seq, "phase" -> r.phase, "pass" -> r.pass, "kind" -> r.op.kind,
          "params" -> r.params.toMap, "start_ms" -> r.start, "latency_ms" -> r.latencyMs,
          "construct_ms" -> r.constructMs, "error" -> r.error,
          "result" -> r.resultPath, "same_as" -> r.sameAs,
          "oracle" -> (try Some(r.op.oracle(r.params.toMap)) catch { case NonFatal(_) => None }),
          "write" -> r.op.write.nonEmpty, "written_path" -> r.op.writtenPath,
          "table_bytes" -> r.tableBytes, "table_files" -> r.tableFiles)
      })
    JFiles.writeString(Paths.get(s"$work/run.json"), Json(record))
    tracer.foreach { t =>
      JFiles.writeString(Paths.get(s"$work/spans.json"), Json(t.spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "op" -> s.op,
          "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))))
    }
  }
}

object Run {
  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val where = root.getStackTrace.headOption.map(f => s" at $f").getOrElse("")
    s"${root.getClass.getName}: ${String.valueOf(root.getMessage).take(400)}$where"
  }

  /** Heap in use after a full collection, in MB: what the program (graft's
    * caches, Spark's state) still holds once a run's garbage is gone. The
    * first collection hands Spark's unreferenced broadcasts and shuffles to
    * its ContextCleaner, which drops their blocks; the second one measures.
    */
  def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val f = Paths.get("/proc/self/status")
    if (!JFiles.exists(f)) 0.0
    else JFiles.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }
}

object Stats {
  /** Linearly interpolated quantile (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

