package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

import graft.{GraftSession, SparkEntry}
import graft.etl.{ManifestTable, Pipeline}
import graft.ingest.Fetcher

/** One benchmark run in one JVM. `run.py` writes the plan (workload,
  * seed, seconds, trace flag, inputs); this program sets up, runs the
  * passes and writes every raw sample to the plan's `out` file. It
  * computes no statistics and judges no output: `run.py` does both.
  *
  * After the set-up and `warm_passes` untimed passes, it runs timed
  * passes until `seconds` have elapsed and at least `min_timed_passes`
  * have run. With trace on it runs one timed pass, one traced pass and
  * one more timed pass over the same operation list, with a
  * [[JobListener]] registered only for the traced pass. */
object Harness {
  private val mapper = new ObjectMapper

  /** One unit of work of a pass, timed as a whole. `out` carries what
    * run.py needs to check the result. */
  final case class Op(name: String, kind: String, seconds: Double,
      error: Option[String], out: ObjectNode)

  trait Workload {
    /** Load the inputs into the session and run a short warm-up. */
    def prepare(spark: SparkSession): Unit
    /** One pass; `pass` numbers the pass within the run. */
    def pass(spark: SparkSession, pass: Int, tracer: Tracer): Seq[Op]
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: perfbench.Harness <plan.json>")
    val plan = mapper.readTree(Files.readAllBytes(Paths.get(args(0))))
    val workload: Workload = plan.get("workload").asText match {
      case "relational" | "iterative" => new QueryWorkload(plan)
      case "medallion" => new MedallionWorkload(plan)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val cores = plan.get("cores").asInt
    val result = mapper.createObjectNode()

    // Set-up is the cold start: the JVM's own start, the first session,
    // loading the inputs and the warm-up. Only a fresh JVM is cold, so a
    // run has one sample of it.
    val boot = {
      val started = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
      (System.currentTimeMillis() - started) / 1e3
    }
    val t0 = System.nanoTime()
    val spark = GraftSession.create(cores, Some(s"local[$cores]"), "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    workload.prepare(spark)
    result.put("setup_s", boot + (System.nanoTime() - t0) / 1e9)

    val passes = result.putArray("passes")
    def record(ops: Seq[Op], role: String): Unit = {
      val arr = passes.addObject().put("role", role).putArray("ops")
      ops.foreach { op =>
        val o = arr.addObject().put("name", op.name).put("kind", op.kind)
          .put("seconds", op.seconds)
        op.error.foreach(o.put("error", _))
        o.set[JsonNode]("out", op.out)
      }
    }
    // warm passes reach steady state (JIT, codegen caches) before timing
    var n = 0
    while (n < plan.get("warm_passes").asInt) {
      record(workload.pass(spark, n, Tracer.Off), "warm")
      n += 1
    }
    val seconds = plan.get("seconds").asDouble
    val traced = plan.get("trace").asInt == 1
    val minTimed = plan.get("min_timed_passes").asInt
    val start = System.nanoTime()
    var timedPasses = 0
    do {
      record(workload.pass(spark, n, Tracer.Off), "timed")
      n += 1
      timedPasses += 1
    } while (!traced && (timedPasses < minTimed || (System.nanoTime() - start) / 1e9 < seconds))
    if (traced) {
      val listener = new JobListener
      val tracer = new Tracer.On(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val ops = tracer.span(plan.get("workload").asText, "workload") {
        workload.pass(spark, n, tracer)
      }
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      record(ops, "traced")
      val t = result.putObject("trace")
      tracer.toJson(t)
      listener.toJson(t)
      // the pass the traced one is compared with for trace.overhead_frac
      record(workload.pass(spark, n + 1, Tracer.Off), "timed")
    }
    stopSession(spark)
    result.put("peak_rss_kb", peakRssKb)
    Files.write(Paths.get(plan.get("out").asText),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(result))
  }

  private def stopSession(spark: SparkSession): Unit = {
    graft.Tables.invalidate(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** VmHWM: the process's peak resident set, in kB. */
  private def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  /** Time `body`; a throw becomes the op's error, never a timing. */
  def timed(name: String, kind: String, tracer: Tracer, layer: String)(
      body: ObjectNode => Unit): Op = {
    val out = mapper.createObjectNode()
    val t0 = System.nanoTime()
    val error =
      try { tracer.span(name, layer)(body(out)); None }
      catch { case e: Throwable => Some(e.toString.take(500)) }
    Op(name, kind, (System.nanoTime() - t0) / 1e9, error, out)
  }

  def strings(node: JsonNode): Seq[String] = node.elements.asScala.map(_.asText).toSeq
}

/** `relational` and `iterative`: registered queries, each over its
  * committed corpus and forced by folding an xxhash64 of every output
  * column with bit_xor (the fold is also the value checked against the
  * pins).
  * The pass order is a shuffle drawn from the seed and the pass number. */
final class QueryWorkload(plan: JsonNode) extends Harness.Workload {
  private val seed = plan.get("seed").asLong
  /** (query name, corpus directory) */
  private def queries(key: String): Seq[(String, String)] =
    plan.get(key).elements.asScala.map(q => (q.get("name").asText, q.get("data_dir").asText)).toSeq
  private val list = queries("queries")
  private val warmup = queries("warmup")
  private val registry = SparkEntry.queries
  (list ++ warmup).map(_._1).filterNot(registry.contains).foreach(n =>
    throw new IllegalArgumentException(s"unknown query $n"))

  def prepare(spark: SparkSession): Unit =
    warmup.foreach(q => run(spark, q, Tracer.Off))

  def pass(spark: SparkSession, pass: Int, tracer: Tracer): Seq[Harness.Op] =
    new Random(seed * 1000003L + pass).shuffle(list).map(run(spark, _, tracer))

  private def run(spark: SparkSession, query: (String, String), tracer: Tracer): Harness.Op =
    Harness.timed(query._1, "query", tracer, "op") { out =>
      val df = tracer.span("construct", "queries")(registry(query._1)(spark, query._2))
      val forced = QueryWorkload.fold(df)
      tracer.span("plan", "plans")(forced.queryExecution.executedPlan)
      val row = tracer.span("execute", "spark")(forced.collect())(0)
      out.put("hash", QueryWorkload.hash(row))
    }
}

object QueryWorkload {
  /** xxhash64 of every output column, bit_xor-folded to one row: it
    * consumes every value (a count would let Catalyst prune columns)
    * and does not depend on row order. */
  def fold(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(c => df.col(s"`$c`")): _*)).as("_h"))
      .agg(expr("bit_xor(_h)"))

  def hash(row: Row): String = if (row.isNullAt(0)) "null" else row.getLong(0).toString
}

/** `medallion`: the reference-parity write path over generated pages.
  * One pass = fetch (in-memory page client, no-op sleep) → bronze →
  * silver → gold in overwrite mode → single-partition incremental
  * recomputes → a series of manifest appends with a stats column →
  * stats-pruned range reads. Each pass works in a fresh directory. */
final class MedallionWorkload(plan: JsonNode) extends Harness.Workload {
  private val m = plan.get("medallion")
  private val work = Paths.get(plan.get("work_dir").asText)
  private val pagesDir = Paths.get(m.get("pages_dir").asText)
  private val baseUrl = m.get("base_url").asText
  private val slug = m.get("slug").asText
  private val table = m.get("table").asText
  private val preplaced = Harness.strings(m.get("preplaced"))
  private val incremental = m.get("incremental").elements.asScala
    .map(p => (p.get(0).asInt, p.get(1).asInt)).toSeq
  private val commitYear = m.get("commit_year").asInt
  private val commitMonths = m.get("commit_months").elements.asScala.map(_.asInt).toSeq
  private val reads = m.get("reads").elements.asScala
    .map(r => (r.get(0).asLong, r.get(1).asLong)).toSeq
  private var served: Map[String, String] = Map.empty

  /** Serves the generated page bodies from memory; unknown urls get 404. */
  private object Client extends Fetcher.PageClient {
    def get(url: String, headers: Map[String, String]): Fetcher.Response =
      served.get(url).map(Fetcher.Response(200, _)).getOrElse(Fetcher.Response(404, ""))
  }

  def prepare(spark: SparkSession): Unit = {
    served = m.get("served").elements.asScala.map { s =>
      s.get("url").asText -> new String(
        Files.readAllBytes(pagesDir.resolve(s.get("file").asText)), UTF_8)
    }.toMap
    // warm-up: bronze over the pre-placed pages alone
    val dir = work.resolve("warmup")
    deleteTree(dir)
    placeRawPages(dir)
    Pipeline.run(spark, layerStages(dir).take(1), failFast = true)
  }

  private def placeRawPages(dir: Path): Unit = {
    val raw = Files.createDirectories(dir.resolve("raw"))
    preplaced.foreach(f => Files.copy(pagesDir.resolve(f), raw.resolve(f)))
  }

  private def layerStages(dir: Path): Seq[Pipeline.Stage] =
    Pipeline.medallion(s"$dir/raw/*.json", s"$dir/bronze", s"$dir/silver", s"$dir/gold")

  def pass(spark: SparkSession, pass: Int, tracer: Tracer): Seq[Harness.Op] = {
    val dir = work.resolve(s"pass$pass")
    deleteTree(dir)
    placeRawPages(dir)
    val gold = s"$dir/gold"
    val fetch = Harness.timed("fetch", "fetch", tracer, "ingest") { out =>
      val r = Fetcher.fetchAll(Client, baseUrl, "bench", dir.resolve("raw"), slug, table,
        sleep = _ => (), pageSleepMs = 0, backoffMs = 0)
      out.put("pages", r.pagesFetched).put("skipped", r.pagesSkipped)
        .put("records", r.records).put("stopped", r.stoppedBecause)
    }
    val layers = layerStages(dir).map { st =>
      Harness.timed(st.name, "stage", tracer, "etl") { out =>
        val res = Pipeline.run(spark, Seq(st), failFast = true).head
        out.put("rows_written", res.metrics.getOrElse("rows_written", -1L))
      }
    }
    if (layers.forall(_.error.isEmpty)) goldRows(spark, gold, None, layers.last.out)
    val recomputes = incremental.map { case (ano, mes) =>
      val op = Harness.timed(s"incremental_${ano}_$mes", "incremental", tracer, "etl") { out =>
        val res = Pipeline.run(spark, Pipeline.incrementalSilverGold(
          s"$dir/bronze", s"$dir/silver", gold, Seq((ano, mes))), failFast = true)
        out.put("rows_written", res.map(_.metrics.getOrElse("rows_written", 0L)).sum)
      }
      if (op.error.isEmpty) goldRows(spark, gold, Some((ano, mes)), op.out)
      op
    }
    val manifest = s"$dir/manifest"
    val commits = commitMonths.map { mes =>
      Harness.timed(s"commit_$mes", "commit", tracer, "manifest") { out =>
        val batch = spark.read.parquet(s"$dir/silver")
          .where(col("ano") === commitYear && col("mes") === mes)
        out.put("version", ManifestTable.commit(batch, manifest, "append", Some("mes")))
      }
    }
    val prunedReads = reads.map { case (lo, hi) =>
      Harness.timed(s"read_${lo}_$hi", "read", tracer, "manifest") { out =>
        val r = ManifestTable.readPruned(spark, manifest, lo, hi)
        out.put("rows", r.df.where(col("mes").between(lo, hi)).count())
          .put("lo", lo).put("hi", hi)
          .put("files_kept", r.filesKept).put("files_total", r.filesTotal)
      }
    }
    layers.last.out.put("layer_files",
      Seq("bronze", "silver", "gold").map(l => parquetFiles(dir.resolve(l)).size).sum)
    Seq(fetch) ++ layers ++ recomputes ++ commits ++ prunedReads
  }

  /** Gold rows (of one partition, or all) as [ano, mes, nome_orgao,
    * total_gasto], read after the op that wrote them, outside its time. */
  private def goldRows(spark: SparkSession, gold: String, only: Option[(Int, Int)],
      out: ObjectNode): Unit = {
    val arr: ArrayNode = out.putArray("gold")
    try {
      val all = spark.read.parquet(gold)
      only.fold(all) { case (a, mo) => all.where(col("ano") === a && col("mes") === mo) }
        .select("ano", "mes", "nome_orgao", "total_gasto").collect().foreach { r =>
          arr.addArray().add(r.getInt(0)).add(r.getInt(1)).add(r.getString(2)).add(r.getDouble(3))
        }
    } catch { case e: Throwable => out.put("gold_error", e.toString.take(500)) }
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }

  private def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
      .foreach(Files.delete)
    finally s.close()
  }
}
