package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.actuarial.Actuarial

/** What a builder hands back: the materialising action, plus the frame
  * when the op is a query whose full result the check pass writes out.
  */
final case class Step(act: () => Any, frame: Option[DataFrame] = None)

/** One operation of a pass. `build` is the call into the library's
  * builder; the returned step's `act` produces the full result.
  */
final case class Op(name: String, module: String, kind: String, build: () => Step)

final class Ctx(val spark: SparkSession, val inputs: String, val work: Path,
    val seed: Long, val params: Map[String, String]) {
  def param(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  def intParam(k: String): Int = param(k).toInt
}

trait Workload {
  def setup(ctx: Ctx): Unit = ()
  def pass(ctx: Ctx, idx: Int): Seq[Op]
  /** Per-pass layer metrics read outside the timed region. */
  def afterPass(ctx: Ctx, idx: Int, values: Seq[Any]): Map[String, Double] = Map.empty
}

object Workloads {
  def byName(name: String): Workload = name match {
    case "reserve_mc" => ReserveMc
    case "curation_dedup" => QueryMix
    case "lakehouse_write" => Lakehouse
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val moduleMaps: Seq[(String, Map[String, _])] = Seq(
    "ops.Relational" -> graft.ops.Relational.queries,
    "actuarial.Actuarial" -> Actuarial.queries,
    "ops.TextOps" -> graft.ops.TextOps.queries,
    "ops.Dedup" -> graft.ops.Dedup.queries,
    "ops.Curation" -> graft.ops.Curation.queries,
    "ops.Similarity" -> graft.ops.Similarity.queries,
    "ops.Events" -> graft.ops.Events.queries,
    "ops.Multimodal" -> graft.ops.Multimodal.queries,
    "ops.Pipeline" -> graft.ops.Pipeline.queries,
    "ops.Corpus" -> graft.ops.Corpus.queries,
    "ops.Analytics" -> graft.ops.Analytics.queries,
    "ops.Warehouse" -> graft.ops.Warehouse.queries,
    "sources.Formats" -> graft.sources.Formats.queries,
    "streaming.EventStream" -> graft.streaming.EventStream.queries)

  /** The module whose query map holds `query`. */
  def moduleOf(query: String): String =
    moduleMaps.collectFirst { case (m, qs) if qs.contains(query) => m }.getOrElse("unknown")
}

/** Registered queries from `SparkEntry.queries` (the `queries` parameter,
  * comma-separated, in the order they run), each run to its full result
  * through the `noop` sink.
  */
object QueryMix extends Workload {
  def pass(ctx: Ctx, idx: Int): Seq[Op] = ctx.param("queries").split(",").toSeq.map { name =>
    val fn = SparkEntry.queries(name)
    Op(name, Workloads.moduleOf(name), "query", () => {
      val df = fn(ctx.spark, ctx.inputs)
      Step(() => { df.write.format("noop").mode("overwrite").save(); null }, Some(df))
    })
  }
}

/** The paper's pipeline: per policy file, CSV scan → 10,000-trial Monte
  * Carlo → per-file scalar; then the scalar gather through the partial
  * files with a zero-byte `.txt` and a non-`.txt` decoy beside them.
  */
object ReserveMc extends Workload {
  def pass(ctx: Ctx, idx: Int): Seq[Op] = {
    val files = (1 to ctx.intParam("files")).map(i => s"policy_$i")
    val nSims = ctx.intParam("sims")
    val partials = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val sims = files.map { f =>
      Op(s"simulate:$f", "actuarial.Actuarial", "simulate", () => {
        val policies = Actuarial.readPolicies(ctx.spark, s"${ctx.inputs}/policies/$f.csv").toDF()
        val df = Actuarial.simulateReserves(policies, nSims, ctx.seed)
          .agg(sum("mc_reserves"))
        Step(() => {
          val v = df.collect()(0).getDouble(0)
          partials.put(f, v)
          Map("file" -> f, "value" -> v)
        })
      })
    }
    val gather = Op("gather", "actuarial.Actuarial", "gather", () => {
      val dir = Files.createDirectories(ctx.work.resolve(s"partials/p$idx"))
      Actuarial.writePartials(files.filter(partials.containsKey).map(f => f -> partials.get(f)), dir)
      Files.write(dir.resolve("empty.txt"), Array.emptyByteArray)
      Files.writeString(dir.resolve("decoy.csv"), "1e12")
      val df = Actuarial.readPartials(ctx.spark, dir.toString).agg(sum("partial"), count(lit(1)))
      Step(() => {
        val r = df.collect()(0)
        Map("value" -> r.getDouble(0), "n" -> r.getLong(1),
          "partials" -> files.filter(partials.containsKey).map(partials.get))
      })
    })
    sims :+ gather
  }
}

/** Writes beside reads: every pass creates fresh tables through the
  * graft catalog and commits to them — MERGE on the row-level and delta
  * flavors, DELETE on the deletion-vector flavors, compaction, and an
  * evolve-table stream drain — each followed by a read-back digest.
  */
object Lakehouse extends Workload {
  private val digestCols =
    """lang, COUNT(*) AS n, SUM(n_chars) AS s,
      |md5(CAST(array_join(transform(array_sort(collect_list(doc_id)),
      |  x -> CAST(x AS STRING)), ',') AS BINARY)) AS ids""".stripMargin

  override def setup(ctx: Ctx): Unit = {
    ctx.spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    ctx.spark.read.parquet(s"${ctx.inputs}/documents.parquet").createOrReplaceTempView("docs")
  }

  def pass(ctx: Ctx, idx: Int): Seq[Op] = {
    val s = ctx.spark
    val dir = ctx.work.resolve(s"lake/p$idx")
    val lo = ctx.param("lo")
    val (mU, mD, rD, mI, m5) = (ctx.param("mU"), ctx.param("mD"), ctx.param("rD"),
      ctx.param("mI"), ctx.param("m5"))
    val delLang = ctx.param("delLang")
    val langsA = ctx.param("langsA").split(",").map(l => s"'$l'").mkString(",")
    val langsB = ctx.param("langsB").split(",").map(l => s"'$l'").mkString(",")
    def name(t: String) = s"graft.ns.${t}_p$idx"
    def sql(kind: String, opName: String, stmts: String*): Op =
      Op(opName, "sources", kind, () => Step(() => { stmts.foreach(s.sql); null }))
    def create(t: String, props: String) =
      s"""CREATE TABLE ${name(t)} (doc_id BIGINT, lang STRING, n_chars BIGINT) USING graft_digest
         |TBLPROPERTIES ('path'='${dir.resolve(t)}', $props)""".stripMargin
    def insert(t: String) =
      s"INSERT INTO ${name(t)} SELECT doc_id, lang, n_chars FROM docs WHERE doc_id >= $lo"
    def read(t: String): Op = Op(s"$t.read", "sources", "read", () => {
      val df = s.sql(s"SELECT $digestCols FROM ${name(t)} GROUP BY lang ORDER BY lang")
      Step(() => Map("table" -> t,
        "digest" -> df.collect().map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3)).mkString("|")).toSeq))
    })
    val evSrc = name("ev_src")
    val evDst = name("ev_dst")
    Seq(
      sql("insert", "rl.insert", create("rl", "'rowlevel'='true'"), insert("rl")),
      sql("merge", "rl.merge",
        s"""MERGE INTO ${name("rl")} t
           |USING (
           |  SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM docs
           |  WHERE doc_id >= $lo AND doc_id % $mU = 0
           |  UNION ALL
           |  SELECT doc_id + 1000000, lang, n_chars FROM docs WHERE doc_id % $mI = 0) u
           |ON t.doc_id = u.doc_id
           |WHEN MATCHED THEN UPDATE SET n_chars = u.n_chars
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
           |  VALUES (u.doc_id, u.lang, u.n_chars)
           |WHEN NOT MATCHED BY SOURCE AND t.lang = '$delLang' THEN DELETE""".stripMargin),
      read("rl"),
      sql("insert", "delta.insert", create("delta", "'delta'='true'"), insert("delta")),
      sql("merge", "delta.merge",
        s"""MERGE INTO ${name("delta")} t
           |USING (
           |  SELECT doc_id, lang, n_chars + 1000 AS n_chars, 'U' AS tag FROM docs
           |  WHERE doc_id >= $lo AND doc_id % $mU = 0
           |  UNION ALL
           |  SELECT doc_id, lang, n_chars, 'D' AS tag FROM docs
           |  WHERE doc_id >= $lo AND doc_id % $mD = $rD AND doc_id % $mU <> 0
           |  UNION ALL
           |  SELECT doc_id + 1000000, lang, n_chars, 'I' AS tag FROM docs
           |  WHERE doc_id % $mI = 0) u
           |ON t.doc_id = u.doc_id
           |WHEN MATCHED AND u.tag = 'U' THEN UPDATE SET n_chars = u.n_chars
           |WHEN MATCHED AND u.tag = 'D' THEN DELETE
           |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
           |  VALUES (u.doc_id, u.lang, u.n_chars)""".stripMargin),
      sql("compact", "delta.compact", s"CALL graft.system.compact(table => 'ns.delta_p$idx')"),
      read("delta"),
      sql("insert", "dv.insert", create("dv", "'dv'='true'"), insert("dv")),
      sql("delete", "dv.delete", s"DELETE FROM ${name("dv")} WHERE doc_id % $mD = $rD"),
      sql("delete", "dv.delete2", s"DELETE FROM ${name("dv")} WHERE n_chars % $m5 = 0"),
      sql("compact", "dv.compact", s"CALL graft.system.compact(table => 'ns.dv_p$idx')"),
      read("dv"),
      sql("insert", "pqdv.insert",
        create("pqdv", "'dv'='true', 'format'='parquet', 'parquet.rowgroup.rows'='256'"),
        insert("pqdv")),
      sql("delete", "pqdv.delete", s"DELETE FROM ${name("pqdv")} WHERE doc_id % $mD = $rD"),
      read("pqdv"),
      sql("insert", "ev.insert",
        s"""CREATE TABLE $evSrc (doc_id BIGINT, lang STRING, n_chars BIGINT) USING graft_evolve
           |TBLPROPERTIES ('path'='${dir.resolve("ev_src")}', 'format'='parquet')""".stripMargin,
        s"""CREATE TABLE $evDst (doc_id BIGINT, lang STRING, n_chars BIGINT) USING graft_evolve
           |TBLPROPERTIES ('path'='${dir.resolve("ev_dst")}', 'format'='parquet')""".stripMargin,
        s"INSERT INTO $evSrc SELECT doc_id, lang, n_chars FROM docs WHERE lang IN ($langsA)",
        s"INSERT INTO $evSrc SELECT doc_id, lang, n_chars FROM docs WHERE lang IN ($langsB)"),
      Op("ev.stream", "sources", "stream", () => Step(() => {
        val q = s.readStream.table(evSrc).writeStream.outputMode("append")
          .option("checkpointLocation", dir.resolve("ev_ckpt").toString)
          .trigger(Trigger.AvailableNow()).toTable(evDst)
        q.awaitTermination()
        val ps = q.recentProgress.toSeq
        val data = ps.map(p => p.durationMs.asScala.get("addBatch").map(_.longValue).getOrElse(0L)).sum
        val all = ps.map(p => p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)).sum
        Map("batches" -> ps.count(_.numInputRows > 0), "data_s" -> data / 1e3,
          "proto_s" -> (all - data) / 1e3)
      })),
      read("ev_dst"))
  }

  /** Files and bytes the pass left on disk, and the amplification ratios
    * against the logical bytes inserted and live at the end.
    */
  override def afterPass(ctx: Ctx, idx: Int, values: Seq[Any]): Map[String, Double] = {
    val dir = ctx.work.resolve(s"lake/p$idx")
    if (!Files.exists(dir)) return Map.empty
    val files = {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList finally w.close()
    }
    val tableFiles = files.filterNot(_.toString.contains("ev_ckpt"))
    val bytes = tableFiles.map(Files.size).sum.toDouble
    val data = tableFiles.filterNot(f => f.getFileName.toString.startsWith("_") ||
      f.getFileName.toString.startsWith("."))
    val commits = tableFiles.count(_.getFileName.toString.matches("_MANIFEST\\.v\\d+.*"))
    def logical(lang: String, n: Long): Double = n * (16.0 + lang.length)
    val live = values.collect { case m: Map[String, Any] @unchecked if m.contains("digest") =>
      m("digest").asInstanceOf[Seq[String]].map { line =>
        val f = line.split('|'); logical(f(0), f(1).toLong)
      }.sum
    }.sum
    val inserted = ctx.param("userBytes").toDouble
    val stream = values.collectFirst { case m: Map[String, Any] @unchecked if m.contains("batches") => m }
      .getOrElse(Map.empty[String, Any])
    Map(
      "sources.commits" -> commits.toDouble,
      "sources.files_written" -> data.size.toDouble,
      "sources.write_mb" -> bytes / 1e6,
      "sources.write_amp" -> (if (inserted > 0) bytes / inserted else 0.0),
      "sources.space_amp" -> (if (live > 0) bytes / live else 0.0),
      "stream.batches" -> stream.getOrElse("batches", 0).toString.toDouble,
      "stream.data_s" -> stream.getOrElse("data_s", 0.0).toString.toDouble,
      "stream.proto_s" -> stream.getOrElse("proto_s", 0.0).toString.toDouble)
  }
}
