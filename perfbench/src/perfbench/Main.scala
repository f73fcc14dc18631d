package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.util.{Scratch, Sessions}

/** One benchmark run in a fresh JVM, driving the program only through
  * its public entry points. `run.py` starts it, reads the JSON it
  * writes to `--out`, checks the outputs and prints the metrics.
  *
  * Flow: `Sessions.build` (timed from JVM start by the caller) → the
  * cold pass in a fresh application with an empty scratch root → warm
  * reruns in the same application for `--seconds` (at least two) →
  * output checks, untimed → with `--trace 1`, the per-layer figures.
  *
  * Usage: perfbench.Main --workload W --seed N --trace 0|1 --seconds S
  *   --cpus C --data DIR --work DIR --out FILE [--setup-only]
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  /** The curation workload: zone builders and iterative loops. The
    * near-dup pair zone and the winnow zone, each with the CC loop; the
    * kNN graph zone and the k-core loop; the LP label zone and the
    * label-propagation loop. (Four queries: the run-length contract
    * leaves about a minute per run on 4 cores.) */
  val CurationCold = Seq("q98_dedup_clusters", "q167_winnow_clusters",
    "q232_kcore", "q288_modularity")

  /** An operation of a pass: a query, or one step of the taxi ELT. */
  final case class Op(family: String, name: String, seconds: Double,
                      error: Option[String], counts: Map[String, Long])

  final case class Pass(label: String, seconds: Double, ops: Seq[Op],
                        zoneBuild: Double)

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val setupOnly = args.contains("--setup-only")
    val out = Paths.get(a("out"))
    val data = a("data")
    val t0 = System.nanoTime()
    val spark = Sessions.build(data, a("cpus").toInt)
    val buildS = (System.nanoTime() - t0) / 1e9
    val built = java.time.Instant.now()
    val res = Json.obj(
      "built_epoch" -> (built.getEpochSecond + built.getNano / 1e9),
      "build_s" -> buildS)
    if (setupOnly) {
      Files.writeString(out, Json(res))
      Runtime.getRuntime.halt(0)
    }
    val work = Paths.get(a("work"))
    val scratch = work.resolve("scratch")
    require(Option(scratch.toFile.list()).exists(_.isEmpty),
      s"scratch root $scratch must exist and be empty")
    spark.conf.set(Scratch.DirKey, scratch.toString)
    val trace = new Trace(a("trace") == "1")
    trace.attach(spark.sparkContext)
    val bench = new Main(spark, trace, a("seed").toLong, a("seconds").toDouble,
      data, work)
    val body = Json.obj("sessions.build_s" -> buildS) ++ (a("workload") match {
      case "curation_cold" => bench.queries(CurationCold, Seq(
        "dedup" -> graft.dedup.Dedup.queries, "sim" -> graft.sim.Spectral.queries))
      case "elt_taxi" => bench.eltTaxi()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    })
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    Files.writeString(out, Json(res ++ body ++ Json.obj("jvm.peak_rss_mb" -> rss)))
    // the caller deletes the run's directories; an orderly stop would
    // only add its shutdown time to every run
    Runtime.getRuntime.halt(0)
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Order-insensitive result fingerprint: row count and the sum, as an
    * exact decimal, of a 64-bit hash of every row over all columns
    * taken in column-name order. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val byName = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = if (byName.isEmpty) lit(0L)
      else xxhash64(byName.map(i => col(s"c$i")).toIndexedSeq: _*)
    val r = pos.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }
}

final class Main(spark: SparkSession, trace: Trace, seed: Long,
                 seconds: Double, data: String, work: Path) {
  import Main._

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Time one operation inside its span; an exception fails the op,
    * never the run. `body` returns the counts the op reports. */
  private def op(family: String, name: String)(body: => Map[String, Long]): Op = {
    val t0 = System.nanoTime()
    val (err, counts) =
      try trace.span(s"op:$family/$name") { (None, body) }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        (Some(String.valueOf(e.getMessage).take(300)), Map.empty[String, Long])
      }
    Op(family, name, secs(t0), err, counts)
  }

  private def pass(label: String)(ops: => Seq[Op]): Pass = {
    val z0 = Scratch.buildSeconds
    val t0 = System.nanoTime()
    val done = trace.span(s"pass:$label")(ops)
    Pass(label, secs(t0), done, Scratch.buildSeconds - z0)
  }

  /** Cold pass, then warm reruns for `seconds` (at least two). */
  private def passes(one: String => Seq[Op]): (Pass, Seq[Pass]) = {
    val cold = pass("cold")(one("cold"))
    val t0 = System.nanoTime()
    val reruns = Vector.newBuilder[Pass]
    var i = 0
    while (i < 2 || secs(t0) < seconds) {
      i += 1
      reruns += pass(s"rerun$i")(one(s"rerun$i"))
    }
    (cold, reruns.result())
  }

  // ---- query workloads ----

  /** The named queries, each tagged with the module (family) whose
    * `queries` map owns it. */
  def queries(names: Seq[String],
              families: Seq[(String, Map[String, Query])]): Map[String, Any] = {
    val all = families.flatMap { case (f, qs) =>
      qs.toSeq.filter(q => names.contains(q._1)).sortBy(_._1)
        .map { case (n, fn) => (f, n, fn) } }
    require(all.size == names.size, s"queries not found: ${names.diff(all.map(_._2))}")
    val order = new scala.util.Random(seed).shuffle(all)
    def one(label: String): Seq[Op] = order.map { case (f, n, fn) =>
      op(f, n) {
        val df = trace.span("construct")(fn(spark, data))
        trace.span("plan")(df.queryExecution.executedPlan)
        trace.span("exec")(df.write.format("noop").mode("overwrite").save())
        Map.empty
      }
    }
    val (cold, reruns) = passes(one)
    // output checks, outside the timed passes
    val prints = trace.span("checks")(order.map { case (_, n, fn) =>
      n -> (try { val (c, h) = fingerprint(fn(spark, data)); Json.obj("rows" -> c, "hash" -> h) }
            catch { case NonFatal(e) => Json.obj("error" -> String.valueOf(e.getMessage).take(300)) })
    })
    val scratch = work.resolve("scratch")
    val zones = Option(scratch.toFile.listFiles()).toSeq.flatten
      .flatMap(app => Option(app.listFiles()).toSeq.flatten).size
    val disk = du(scratch)
    Json.obj("cold" -> passJson(cold), "reruns" -> reruns.map(passJson),
      "fingerprints" -> Json.obj(prints: _*), "disk_mb" -> disk / 1048576.0) ++
      layers(cold, reruns.head, zones, disk)
  }

  // ---- elt_taxi ----

  def eltTaxi(): Map[String, Any] = {
    import graft.ingest.CsvIngest
    import graft.ops.TaxiTransform
    import graft.pipeline.Pipeline
    import graft.sinks.Upsert
    val batches = (1 to 4).map(i => s"$data/batch$i.csv")
    def one(label: String): Seq[Op] = {
      val root = work.resolve(s"zones-$label").toString
      val cleaned = s"$root/analytics/taxi_trips_cleaned.parquet"
      val ingests = (batches :+ s"$data/corrections.csv").zipWithIndex.map {
        case (csv, i) =>
          val (name, table) =
            if (i < batches.size) (s"ingest.batch${i + 1}", "raw.taxi_trips_raw")
            else ("ingest.corrections", "raw.taxi_corrections")
          op("ingest", name) {
            Map("sampled" -> CsvIngest.ingest(spark, csv, table, root).rowsSampled.toLong)
          }
      }
      val run = op("pipeline", "pipeline.run") {
        val rep = Pipeline.run(spark,
          CsvIngest.readZoneTable(spark, root, "raw.taxi_trips_raw"),
          TaxiTransform.transform, TaxiTransform.summary, cleaned)
        rep.stages.map(s => s.name -> s.rows).toMap
      }
      val upsert = op("sinks", "sinks.upsert") {
        val updates = TaxiTransform.transform(
          CsvIngest.readZoneTable(spark, root, "raw.taxi_corrections"))
        Map("rows_after" -> Upsert.merge(spark, cleaned, updates,
          Seq("pickup_datetime")))
      }
      ingests :+ run :+ upsert
    }
    val (cold, reruns) = passes(one)
    // output checks on the cold pass's tables, outside the timed passes
    val root = work.resolve("zones-cold").toString
    val checks = try trace.span("checks") {
      val cleaned = spark.read.parquet(s"$root/analytics/taxi_trips_cleaned.parquet")
      val corr = TaxiTransform.transform(
        CsvIngest.readZoneTable(spark, root, "raw.taxi_corrections"))
      val fare = cleaned.join(corr.select("pickup_datetime"), "pickup_datetime")
        .agg(count(lit(1)), sum((col("fare_amount") * 100).cast("decimal(20,0)")))
        .head()
      Json.obj(
        "rows_ingested" -> CsvIngest.readZoneTable(spark, root, "raw.taxi_trips_raw").count(),
        "corrections" -> corr.count(),
        "total_trips" -> TaxiTransform.summary(cleaned).head().getLong(0),
        "cleaned_rows" -> cleaned.count(),
        "corrected_rows" -> fare.getLong(0),
        "corrected_fare_cents" -> Option(fare.getDecimal(1)).fold(-1L)(_.longValue))
    } catch { case NonFatal(e) => Json.obj("error" -> String.valueOf(e.getMessage).take(300)) }
    val disk = du(Paths.get(root))
    Json.obj("cold" -> passJson(cold), "reruns" -> reruns.map(passJson),
      "checks" -> checks, "disk_mb" -> disk / 1048576.0) ++
      layers(cold, reruns.head, 0, disk)
  }

  private def passJson(p: Pass): Map[String, Any] = Json.obj(
    "seconds" -> p.seconds, "zone_build_s" -> p.zoneBuild,
    "ops" -> p.ops.map(o => Json.obj("family" -> o.family, "name" -> o.name,
      "seconds" -> o.seconds, "error" -> o.error.orNull, "counts" -> o.counts)))

  // ---- per-layer figures from the trace ----

  private def isCheckpoint(j: JobRec): Boolean =
    j.site.startsWith("checkpoint at ") || j.site.startsWith("localCheckpoint at ")

  /** `zones` and `disk` are read after the run: the zone directories
    * under the scratch root, and the bytes the run left on disk. */
  private def layers(cold: Pass, rerun: Pass, zones: Int,
                     disk: Long): Map[String, Any] = {
    if (!trace.on) return Map.empty
    trace.drain()
    val mb = 1048576.0
    def passSpan(p: Pass) = trace.spans.find(_.name == s"pass:${p.label}").get
    def perPass(p: Pass, sfx: String): Map[String, Double] = {
      val ps = passSpan(p)
      val ops = trace.children(ps.id)
      val phases = ops.flatMap(o => trace.children(o.id))
      def phase(n: String) = phases.filter(_.name == n).map(_.seconds).sum
      def family(f: String) = ops.filter(_.name.startsWith(s"op:$f/")).map(_.seconds).sum
      val js = trace.jobsUnder(ps.id)
      val ck = js.filter(isCheckpoint)
      Map(
        "query.construct_s" -> phase("construct"),
        "query.plan_s" -> phase("plan"),
        "query.exec_s" -> phase("exec"),
        "dedup.s" -> family("dedup"),
        "sim.s" -> family("sim"),
        "scratch.build_s" -> p.zoneBuild,
        "checkpoint.jobs" -> ck.size.toDouble,
        "checkpoint.s" -> ck.map(_.seconds).sum,
        "spark.jobs" -> js.size.toDouble,
        "spark.task_run_s" -> js.map(_.runMs).sum / 1e3,
        "spark.driver_only_s" -> trace.idleSeconds(ps, js),
      ).map { case (k, v) => (k + sfx) -> v }
    }
    val ps = passSpan(cold)
    val js = trace.jobsUnder(ps.id)
    val ops = trace.children(ps.id)
    def opsOf(f: String) = ops.filter(_.name.startsWith(s"op:$f/"))
    def jobsOf(f: String) = opsOf(f).flatMap(o => trace.jobsUnder(o.id))
    def callers(f: String, p: String => Boolean) =
      jobsOf(f).filter(j => p(j.caller)).map(_.seconds).sum
    val cpus = spark.sparkContext.defaultParallelism
    val upsertJobs = jobsOf("sinks")
    val updates = opsOf("ingest").filter(_.name.endsWith("/ingest.corrections"))
      .flatMap(o => trace.jobsUnder(o.id)).map(_.outRecords).sum
    perPass(cold, "") ++ perPass(rerun, ".rerun") ++ Map(
      "scratch.zones" -> zones.toDouble,
      "scratch.mb" -> (if (zones > 0) disk / mb else 0.0),
      "spark.stages" -> js.map(_.stages).sum.toDouble,
      "spark.tasks" -> js.map(_.tasks).sum.toDouble,
      "spark.failed_tasks" -> js.map(_.failedTasks).sum.toDouble,
      "spark.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "spark.scan_mb" -> js.map(_.inputBytes).sum / mb,
      "spark.shuffle_write_mb" -> js.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> js.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> js.map(_.spillBytes).sum / mb,
      "spark.fetch_wait_s" -> js.map(_.fetchWaitMs).sum / 1e3,
      "spark.core_busy" -> js.map(_.runMs).sum / 1e3 / (cold.seconds * cpus),
      "ingest.s" -> opsOf("ingest").map(_.seconds).sum,
      "ingest.infer_s" -> jobsOf("ingest")
        .filter(_.stack.contains("graft.schema.SchemaInference")).map(_.seconds).sum,
      "ingest.write_s" -> callers("ingest", _.startsWith("graft.ingest.CsvIngest$.ingest(")),
      "pipeline.s" -> opsOf("pipeline").map(_.seconds).sum,
      "pipeline.gate_s" -> callers("pipeline", _.startsWith("graft.pipeline.Pipeline$.qualityGate(")),
      "pipeline.materialize_s" -> callers("pipeline", _.startsWith("graft.pipeline.Pipeline$.materialize(")),
      "pipeline.summary_s" -> callers("pipeline", _.startsWith("graft.pipeline.Pipeline$.run(")),
      "sinks.upsert_s" -> opsOf("sinks").map(_.seconds).sum,
      "sinks.write_mb" -> upsertJobs.map(_.outBytes).sum / mb,
      "sinks.rewrite_ratio" ->
        (if (updates > 0) upsertJobs.map(_.outRecords).sum.toDouble / updates else 0.0),
      "trace.batch_s" -> cold.seconds,
      "trace.unlinked_jobs" -> trace.jobs.values.count(_.span == 0).toDouble,
      "spans" -> trace.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> trace.jobs.values.map(j => Json.obj("id" -> j.id, "span" -> j.span,
        "site" -> j.site, "caller" -> j.caller, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs)),
    )
  }
}
