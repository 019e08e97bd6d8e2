package graftbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{ObjectStoreView, ScalingProbe, SparkEntry, Tables}
import graft.operators.Namespace
import graft.sources.{Bucketed, Partitioned, ZOrder}

/** One operation: a call into graft's public API with seeded parameters.
  * `build` constructs the DataFrame from the parameters (a value
  * `@token` is filled in at run time from the previous listing page);
  * `write`, when present, is the sources.* call that consumes it (the sink
  * is then unused). `oracle` gives the DuckDB SQL that must return the same
  * rows.
  */
final case class Op(kind: String, params: Seq[(String, String)],
    build: Map[String, String] => DataFrame,
    oracle: Map[String, String] => String,
    write: Option[(DataFrame, Map[String, String]) => Unit] = None,
    writtenPath: Option[String] = None)

/** How an operation's result leaves Spark. */
sealed trait Sink
object Sink {
  case object Collect extends Sink
  case object Noop extends Sink
  final case class Parquet(path: String) extends Sink
}

/** What graft itself wrote while the inputs were prepared (`graftWriter`
  * names the call): parquet bytes and the wall time of that write. The
  * harness's own `DataGen` writes are not counted. `info` describes the
  * inputs.
  */
final case class Prepared(graftBytes: Long, graftWriteS: Double, info: Map[String, Any],
    graftWriter: String = "none")

trait Workload {
  def prepare(): Prepared
  /** Untimed warm-up operations, with the sink that keeps their results. */
  def warmup(resultDir: String): Seq[(Op, Sink)]
  /** The timed loop: pass i's operations and their sinks. */
  def pass(i: Int): Seq[(Op, Sink)]
  /** Operations of the timed phase whose latency is `op_p50_ms`. */
  def isLatencyOp(op: Op): Boolean = true
}

object Workloads {
  def apply(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "om_requests" => new OmRequests(spark, work, seed)
      case "recon_x10" => new Registry(spark, work, seed, Recon.ops)
      case "curate_x10" => new Registry(spark, work, seed, Curate.ops)
      case "ingest" => new Ingest(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def q(s: String): String = "'" + s.replace("'", "''") + "'"

  def timedWrite(body: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val bytes = body
    (bytes, (System.nanoTime() - t0) / 1e9)
  }
}
import Workloads.q

/** Closed-loop OM / S3-gateway requests over the sf0.1 namespace. */
final class OmRequests(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val dir = s"$work/data"
  private lazy val keys = ObjectStoreView.keys(spark, dir)
  private lazy val containerKeys = ObjectStoreView.containerKeys(spark, dir)
  private var sample: IndexedSeq[(String, String, String)] = IndexedSeq.empty

  def prepare(): Prepared = {
    // The namespace input reaches its path through graft's own writer: one
    // file sorted on the order key, so lineitem stays a single file and
    // keeps om_requests on the fan-out side of Tables.maybeFanout. The
    // generated rows first go to a staging path through the same writer,
    // which warms it; only the second write, staging to input, is timed.
    val stage = s"$work/stage/lineitem.parquet"
    ZOrder.writeLinear(DataGen.table(spark, seed, 0.1, "lineitem"), stage, 1, "l_orderkey")
    val (bytes, s) = Workloads.timedWrite {
      ZOrder.writeLinear(spark.read.parquet(stage), s"$dir/lineitem.parquet", 1, "l_orderkey")
      Files.bytesUnder(new java.io.File(dir))
    }
    // Existing keys for point reads: a seeded sample of the namespace.
    sample = keys.filter(pmod(xxhash64(col("key"), lit(seed)), lit(4001L)) === 0)
      .select("volume", "bucket", "key").distinct().orderBy("key").limit(64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toIndexedSeq
    require(sample.nonEmpty, "no keys sampled for point reads")
    Prepared(bytes, s, Map("sf" -> 0.1, "input_bytes" -> bytes,
      "lookup_sample" -> sample.size),
      "set-up ZOrder.writeLinear of the namespace input")
  }

  /** The run's block of seventeen requests, drawn once from the seed in a
    * seeded order: six listKeys, six lookups (a seeded mix of existing and
    * missing keys), a two-page ListObjectsV2 chain over one year, one
    * listStatus, one du and one fileSizeHistogram. The warm-up and every
    * timed pass run this same block, so the number of passes that fit in a
    * run changes the sample count, never the mix.
    */
  private lazy val block: Seq[(Op, Sink)] = {
    val r = new Random(seed)
    def year = 1995 + r.nextInt(7)
    def month = f"${1 + r.nextInt(12)}%02d"
    def listKeys = {
      val y = year
      val prefix = if (r.nextBoolean()) s"data/$y/" else s"data/$y/$month/"
      val after = if (prefix.length == 10 && r.nextBoolean()) s"data/$y/$month" else ""
      Op("listKeys", Seq("volume" -> s"vol${r.nextInt(3)}", "bucket" -> s"b${r.nextInt(5)}",
        "prefix" -> prefix, "startAfter" -> after, "maxKeys" -> (1 + r.nextInt(1000)).toString),
        p => Namespace.listKeys(keys, p("volume"), p("bucket"), p("prefix"),
          p("startAfter"), p("maxKeys").toInt), NamespaceSql.listKeys)
    }
    // The chain stays in the dense years: in the sparse later ones its
    // second page costs half as much, and which years a seed drew would
    // move op_p90_ms from run to run.
    val v2prefix = s"data/${1995 + r.nextInt(4)}/"
    val v2max = (1 + r.nextInt(6)).toString
    def v2page(token: String) = Op("listObjectsV2Page",
      Seq("prefix" -> v2prefix, "token" -> token, "maxEntries" -> v2max),
      p => Namespace.listObjectsV2Page(keys, p("prefix"), p("token"),
        p("maxEntries").toInt), NamespaceSql.listV2Page)
    def lookup = {
      val (v, b, k) = sample(r.nextInt(sample.size))
      val key = if (r.nextInt(10) < 3) k.replace(".obj", "0.obj") else k
      Op("lookupKeyAt", Seq("volume" -> v, "bucket" -> b, "key" -> key),
        p => Namespace.lookupKeyAt(keys, containerKeys, p("volume"),
          p("bucket"), p("key")), NamespaceSql.lookupKeyAt)
    }
    val parent = if (r.nextBoolean()) s"data/$year" else s"data/$year/$month"
    val status = Op("listStatus", Seq("parent" -> parent),
      p => Namespace.listStatus(keys, p("parent")), NamespaceSql.listStatus)
    val du = Op("du", Seq("depth" -> (1 + r.nextInt(3)).toString),
      p => Namespace.du(keys, p("depth").toInt), NamespaceSql.du)
    val histogram = Op("fileSizeHistogram", Nil, _ => Namespace.fileSizeHistogram(keys),
      _ => SparkEntry.oracleSql("ns_filesize_histogram"))
    val independent = r.shuffle(Seq.fill(6)(listKeys) ++ Seq.fill(6)(lookup) ++
      Seq(status, du, histogram))
    // The chain's second page takes its token from the first page's reply.
    val at = r.nextInt(independent.size + 1)
    (independent.take(at) ++ Seq(v2page(""), v2page("@token")) ++ independent.drop(at))
      .map(_ -> Sink.Collect)
  }

  def pass(i: Int): Seq[(Op, Sink)] = block

  /** The block, then its aggregating requests once more: on their second
    * run they are still about 30 % slower than on their third, while the
    * listings and lookups are not.
    */
  def warmup(resultDir: String): Seq[(Op, Sink)] = {
    val aggregating = Set("du", "listStatus", "fileSizeHistogram")
    block ++ block.filter { case (op, _) => aggregating(op.kind) }
  }
}

/** DuckDB SQL for the parameterised namespace calls. They read `keys` and
  * `ck`, which the checker builds once per run from
  * `ObjectStoreView.keysSql` and `containerKeysSql` ([[prelude]]), the same
  * definitions the registry oracles inline.
  */
object NamespaceSql {
  val prelude: Map[String, String] = Map("keys" -> ObjectStoreView.keysSql,
    "ck" -> ObjectStoreView.containerKeysSql)

  def listKeys(p: Map[String, String]): String =
    s"""SELECT volume, bucket, key, size, state FROM keys
       |WHERE volume = ${q(p("volume"))} AND bucket = ${q(p("bucket"))}
       |  AND starts_with(key, ${q(p("prefix"))}) AND key > ${q(p("startAfter"))}
       |ORDER BY key ASC LIMIT ${p("maxKeys").toInt}""".stripMargin

  private def prefixes(prefix: String, token: String): String = {
    val from = prefix.length + 1
    s"""t AS (
       |  SELECT CASE WHEN position('/' in substring(key, $from)) > 0
       |    THEN ${q(prefix)} || split_part(substring(key, $from), '/', 1) || '/'
       |    ELSE split_part(substring(key, $from), '/', 1) END AS common_prefix, size
       |  FROM keys WHERE starts_with(key, ${q(prefix)}) AND key > ${q(token)}
       |), listing AS (
       |  SELECT common_prefix, common_prefix LIKE '%/' AS is_prefix,
       |    COUNT(*) AS n_objects, CAST(SUM(size) AS BIGINT) AS total_bytes
       |  FROM t GROUP BY common_prefix)""".stripMargin
  }

  def commonPrefixes(p: Map[String, String]): String =
    s"WITH ${prefixes(p("prefix"), "")} SELECT * FROM listing ORDER BY common_prefix"

  def listV2Page(p: Map[String, String]): String =
    s"""WITH ${prefixes(p("prefix"), p("token"))}, page AS (
       |  SELECT * FROM listing WHERE common_prefix > ${q(p("token"))}
       |  ORDER BY common_prefix ASC LIMIT ${p("maxEntries").toInt})
       |SELECT common_prefix, is_prefix, n_objects, total_bytes,
       |  MAX(common_prefix) OVER () AS next_token
       |FROM page ORDER BY common_prefix ASC""".stripMargin

  def listStatus(p: Map[String, String]): String = {
    val parent = p("parent")
    val from = parent.length + 2
    s"""SELECT split_part(substring(key, $from), '/', 1) AS child,
       |  position('/' in substring(key, $from)) > 0 AS is_dir,
       |  COUNT(*) AS n_files, CAST(SUM(size) AS BIGINT) AS total_bytes
       |FROM keys WHERE starts_with(key, ${q(parent + "/")})
       |GROUP BY child, is_dir ORDER BY is_dir DESC, child ASC""".stripMargin
  }

  def lookupKeyAt(p: Map[String, String]): String =
    s"""SELECT s.volume, s.bucket, s.key, s.size, s.mtime, s.replication,
       |  s.state, c.container_id
       |FROM keys s JOIN ck c ON s.volume = c.volume AND s.bucket = c.bucket
       |  AND s.key = c.key
       |WHERE s.volume = ${q(p("volume"))} AND s.bucket = ${q(p("bucket"))}
       |  AND s.key = ${q(p("key"))}""".stripMargin

  def du(p: Map[String, String]): String =
    s"""SELECT volume, bucket,
       |  array_to_string(string_split(key, '/')[1:${p("depth").toInt}], '/') AS dir,
       |  COUNT(*) AS num_files, CAST(SUM(size) AS BIGINT) AS size_of_files
       |FROM keys GROUP BY volume, bucket, dir""".stripMargin

  def compactionPlan(p: Map[String, String]): String =
    SparkEntry.oracleSql("ns_compaction_plan")
      .replace("1000000000", p("targetBytes").toLong.toString)
}

/** Recon / namespace batch: public namespace calls with seeded parameters
  * and registry queries of the same family.
  */
object Recon {
  def ops(spark: SparkSession, dir: String, r: Random): Seq[Op] = {
    def keys = ObjectStoreView.keys(spark, dir)
    Seq(
      Op("du", Seq("depth" -> (1 + r.nextInt(3)).toString),
        p => Namespace.du(keys, p("depth").toInt), NamespaceSql.du),
      Op("commonPrefixes",
        Seq("prefix" -> (if (r.nextBoolean()) "data/" else s"data/${1995 + r.nextInt(7)}/")),
        p => Namespace.commonPrefixes(keys, p("prefix")), NamespaceSql.commonPrefixes),
      Op("compactionPlan",
        Seq("targetBytes" -> Seq(250000000L, 500000000L, 2000000000L)(r.nextInt(3)).toString),
        p => Namespace.compactionPlan(keys, p("targetBytes").toLong), NamespaceSql.compactionPlan)) ++
      Seq("ns_fso_du", "ct_keys_per_container").map(Registry.query(spark, dir, _))
  }
}

/** Training-data curation: dedup, tokenisation, similarity and codec
  * registry queries.
  */
object Curate {
  def ops(spark: SparkSession, dir: String, r: Random): Seq[Op] =
    Seq("dd_minhash_lsh", "dd_canonical", "pipe_curate", "pipe_dedup_funnel",
      "tx_tokens", "sim_recall_report", "sim_knn_ivfpq", "mm_real_decode")
      .map(Registry.query(spark, dir, _))
}

/** A batch workload over the 10× replica (`ScalingProbe.generate`, density
  * mode) of a seeded base. Every pass runs the same seeded operations in a
  * seeded order; the warm-up pass writes each result for the check.
  */
final class Registry(spark: SparkSession, work: String, seed: Long,
    opsOf: (SparkSession, String, Random) => Seq[Op]) extends Workload {
  private val base = s"$work/base"
  private val dir = s"$work/data"
  private val r = new Random(seed)
  private lazy val ops = r.shuffle(opsOf(spark, dir, r))

  def prepare(): Prepared = {
    val baseBytes = DataGen.write(spark, base, seed, Registry.BaseSf, Registry.BaseFiles)
    val (bytes, s) = Workloads.timedWrite {
      ScalingProbe.generate(spark, base, dir, 10)
      Files.bytesUnder(new java.io.File(dir))
    }
    Prepared(bytes, s, Map("base_sf" -> Registry.BaseSf, "base_files" -> Registry.BaseFiles,
      "base_bytes" -> baseBytes, "replica_factor" -> 10, "replica_bytes" -> bytes),
      "set-up ScalingProbe.generate of the replica")
  }

  def pass(i: Int): Seq[(Op, Sink)] = ops.map(_ -> Sink.Noop)

  def warmup(resultDir: String): Seq[(Op, Sink)] =
    ops.zipWithIndex.map { case (op, i) => op -> Sink.Parquet(s"$resultDir/warm$i") }
}

object Registry {
  /** Scale and file count of the seeded base the replica multiplies; two
    * files keep the replica off the scan fan-out at local[4] (README.md).
    */
  val BaseSf = 0.005
  val BaseFiles = 2

  def query(spark: SparkSession, dir: String, name: String): Op =
    Op(name, Nil, _ => SparkEntry.queries(name)(spark, dir),
      _ => SparkEntry.oracleSql(name))
}

/** Write-and-read-back iterations through graft.sources on the same paths. */
final class Ingest(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val src = s"$work/data"
  private val out = s"$work/ingest"
  private val Table = "perfbench_lineitem_bucketed"
  private val sf = 0.1
  private val nEvents = math.round(1000000 * sf)
  private val nOrders = math.round(1500000 * sf)

  def prepare(): Prepared = {
    val bytes = DataGen.write(spark, src, seed, sf, 1, Seq("lineitem", "events"))
    Prepared(0, 0, Map("sf" -> sf, "input_bytes" -> bytes))
  }

  override def isLatencyOp(op: Op): Boolean = op.write.isEmpty

  /** Iteration i: a seeded fifth of events and of lineitem (by order key)
    * written three ways, then two pruned read-backs of each layout.
    */
  def pass(i: Int): Seq[(Op, Sink)] = {
    val r = new Random(seed * 1000003L + i)
    val ev0 = r.nextInt((nEvents - nEvents / 5).toInt).toLong
    val li0 = r.nextInt((nOrders - nOrders / 5).toInt).toLong
    val slice = Seq("ev_from" -> ev0.toString, "ev_to" -> (ev0 + nEvents / 5).toString,
      "li_from" -> li0.toString, "li_to" -> (li0 + nOrders / 5).toString)
    def events(p: Map[String, String]) = Tables.events(spark, src)
      .filter(col("event_id") >= p("ev_from").toLong && col("event_id") < p("ev_to").toLong)
    def lineitem(p: Map[String, String]) = Tables.lineitem(spark, src)
      .filter(col("l_orderkey") >= p("li_from").toLong && col("l_orderkey") < p("li_to").toLong)
    val evSql = (p: Map[String, String]) =>
      s"event_id >= ${p("ev_from").toLong} AND event_id < ${p("ev_to").toLong}"
    val liSql = (p: Map[String, String]) =>
      s"l_orderkey >= ${p("li_from").toLong} AND l_orderkey < ${p("li_to").toLong}"
    val byDay = s"$out/events_by_day"
    val zPath = s"$out/lineitem.parquet"
    val bPath = s"$out/lineitem_bucketed"
    val writes = Seq(
      Op("writeByDay", slice, events,
        p => s"SELECT * FROM events WHERE ${evSql(p)}",
        Some((df, _) => Partitioned.writeByDay(df, "ts", byDay, 1)), Some(byDay)),
      Op("writeZOrdered", slice, lineitem,
        p => s"SELECT * FROM lineitem WHERE ${liSql(p)}",
        Some((df, _) => ZOrder.writeZOrdered(df, zPath, 4, "l_partkey", "l_suppkey")),
        Some(zPath)),
      Op("writeBucketed", slice, lineitem,
        p => s"SELECT * FROM lineitem WHERE ${liSql(p)}",
        Some((df, _) => Bucketed.writeBucketed(df, Table, bPath, 4, "l_orderkey")),
        Some(bPath)))
    val nPart = math.round(200000 * sf); val nSupp = math.round(10000 * sf)
    def readByDay = Op("readByDay", slice :+ ("day" -> f"2024-01-${1 + r.nextInt(30)}%02d"),
      p => Partitioned.read(spark, byDay).filter(col("day") === lit(p("day")).cast("date")),
      p => s"SELECT *, CAST(ts AS DATE) AS day FROM events WHERE ${evSql(p)} " +
        s"AND CAST(ts AS DATE) = DATE ${q(p("day"))}", writtenPath = Some(byDay))
    def readZOrdered = {
      val p0 = r.nextInt((nPart * 3 / 4).toInt); val s0 = r.nextInt((nSupp * 3 / 4).toInt)
      Op("readZOrdered", slice ++ Seq("part_from" -> p0.toString,
          "part_to" -> (p0 + nPart / 8).toString, "supp_from" -> s0.toString,
          "supp_to" -> (s0 + nSupp / 8).toString),
        p => Tables.load(spark, out, "lineitem").filter(
          col("l_partkey").between(p("part_from").toLong, p("part_to").toLong) &&
          col("l_suppkey").between(p("supp_from").toLong, p("supp_to").toLong)),
        p => s"SELECT * FROM lineitem WHERE ${liSql(p)} AND l_partkey BETWEEN " +
          s"${p("part_from")} AND ${p("part_to")} AND l_suppkey BETWEEN " +
          s"${p("supp_from")} AND ${p("supp_to")}", writtenPath = Some(zPath))
    }
    def readBucketed = Op("readBucketed",
      slice :+ ("orderkey" -> (li0 + r.nextInt((nOrders / 5).toInt)).toString),
      p => Bucketed.table(spark, Table).filter(col("l_orderkey") === p("orderkey").toLong),
      p => s"SELECT * FROM lineitem WHERE l_orderkey = ${p("orderkey").toLong}",
      writtenPath = Some(bPath))
    val reads = Seq(readByDay, readZOrdered, readBucketed, readByDay, readZOrdered,
      readBucketed)
    writes.map(_ -> Sink.Noop) ++ reads.map(_ -> Sink.Collect)
  }

  def warmup(resultDir: String): Seq[(Op, Sink)] = (-2 to -1).flatMap(pass)
}
