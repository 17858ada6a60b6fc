package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}

import graft.etl.{Extract, Load}

/** Minimal JSON writing for the files `run.py` reads back. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** The benchmark's JVM side. One process runs one workload once:
  *
  *   catalog <out.json>                     list every named query, its module and oracle SQL
  *   run <plan> <data> <out> <cores> <0|1>  execute a plan written by run.py
  *
  * The plan is one step per line, tab-separated:
  *   warmup <query|load>            untimed, before set-up ends
  *   round                          fresh landing/table/checkpoint directories
  *   land <blob> <payload> <epoch>  Extract.land of a payload file at that instant
  *   query <name>                   SparkEntry.queries(name), materialised by collect()
  *   load                           Load.runStreamDeduped, then a read of Load.table
  *   compact <files>                Load.compact
  *
  * Timings are taken with the program called as a library: nothing is
  * swept between operations, so what one operation leaves persisted or
  * reconfigured is what the next one meets. */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => catalog(Paths.get(out))
    case "run" :: plan :: data :: out :: cores :: trace :: Nil =>
      run(Paths.get(plan), data, Paths.get(out), cores.toInt, trace == "1")
    case _ =>
      System.err.println("usage: catalog <out.json> | run <plan> <data> <out> <cores> <trace>")
      sys.exit(2)
  }

  private def catalog(out: Path): Unit = {
    import graft.ops._
    val modules = Seq(
      "Relational" -> Relational.queries, "Scalars" -> Scalars.queries,
      "Streaming" -> Streaming.queries, "TextOps" -> TextOps.queries,
      "DedupOps" -> DedupOps.queries, "SimilarityOps" -> SimilarityOps.queries,
      "MultimodalOps" -> MultimodalOps.queries, "ExtOps" -> ExtOps.queries,
      "EventOps" -> EventOps.queries, "LinkOps" -> LinkOps.queries,
      "SketchOps" -> SketchOps.queries, "PrivacyOps" -> PrivacyOps.queries,
      "TableOps" -> TableOps.queries, "EtlDemo" -> graft.etl.EtlDemo.queries)
    val moduleOf = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val oracles = graft.SparkEntry.oracleSql
    val entries = graft.SparkEntry.queries.keys.toSeq.sorted.map { q =>
      Json.obj(Seq("name" -> Json.str(q),
        "module" -> Json.str(moduleOf.getOrElse(q, "")),
        "oracle" -> oracles.get(q).map(Json.str).getOrElse("null")))
    }
    Files.writeString(out, Json.arr(entries))
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private sealed trait Step
  private final case class Warmup(name: String) extends Step
  private case object NewRound extends Step
  private final case class Land(blob: String, payload: Path, epoch: Long) extends Step
  private final case class Query(name: String) extends Step
  private case object LoadStep extends Step
  private final case class Compact(files: Int) extends Step

  private def parse(plan: Path): Seq[Step] =
    Files.readAllLines(plan).asScala.toSeq.filter(_.nonEmpty).map(_.split('\t').toList).map {
      case "warmup" :: n :: Nil => Warmup(n)
      case "round" :: Nil => NewRound
      case "land" :: b :: p :: e :: Nil => Land(b, Paths.get(p), e.toLong)
      case "query" :: n :: Nil => Query(n)
      case "load" :: Nil => LoadStep
      case "compact" :: n :: Nil => Compact(n.toInt)
      case other => sys.error(s"bad plan line: ${other.mkString(" ")}")
    }

  private def secs(ns: Long): Double = ns / 1e9
  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  private def run(planPath: Path, data: String, out: Path, cores: Int, trace: Boolean): Unit = {
    val plan = parse(planPath)
    val work = out.resolve("work")
    Files.createDirectories(work)
    val spark = session(cores, work)
    val queries = graft.SparkEntry.queries

    // Warm-up, inside set-up: JIT, codegen and class loading on a query
    // outside the measured set, or on throwaway loads. A second warm-up
    // load meets an existing table, so it also warms the dedup anti-join.
    plan.collect { case Warmup(name) => name }.zipWithIndex.foreach {
      case ("load", i) =>
        val w = work.resolve("warmup")
        Extract.land(() => s"""[{"userId": 1, "id": $i, "title": "t", "body": "b"}]""",
          w.resolve("landing").toString, Instant.ofEpochSecond(i))
        Load.runStreamDeduped(spark, w.resolve("landing").toString,
          w.resolve("table").toString, w.resolve("_checkpoint").toString)
        Load.table(spark, w.resolve("table").toString).collect()
      case (name, _) => queries(name)(spark, data).collect()
    }
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // The run id names the run directory and the JVM's start, so that runs of
    // one workload and seed stay apart when trace.py reads them together.
    val spans = new Spans(s"${out.getFileName}-${ManagementFactory.getRuntimeMXBean.getStartTime}",
      spark.sparkContext)
    val layers = if (trace) Some(new Layers(spark, spans, Paths.get(System.getProperty("java.io.tmpdir")))) else None
    def traced[T](name: String)(body: => T): T = if (trace) spans(name)(body) else body

    val steps = mutable.ArrayBuffer.empty[String]
    val results = mutable.ArrayBuffer.empty[(String, Array[Row], org.apache.spark.sql.types.StructType)]
    var round = 0
    var dirs = (work, work, work) // landing, table, checkpoint
    val pending = mutable.ArrayBuffer.empty[(String, Long)] // blob, land start (ns)

    /** Runs one operation, with its layer counters when tracing. */
    def op[T](body: => T): (Try[T], Map[String, Double]) = layers match {
      case Some(l) => l.measure(body)
      case None => (Try(body), Map.empty)
    }

    traced("round") {
      plan.foreach {
        case Warmup(_) =>
        case NewRound =>
          round += 1
          val r = work.resolve(s"ingest$round")
          dirs = (r.resolve("landing"), r.resolve("table"), r.resolve("_checkpoint"))
          pending.clear()

        case Land(blob, payloadPath, epoch) =>
          val payload = Files.readString(payloadPath)
          val t0 = System.nanoTime()
          traced("etl.land") {
            Extract.land(() => payload, dirs._1.toString, Instant.ofEpochSecond(epoch))
          }
          val d = secs(System.nanoTime() - t0)
          steps += opJson("land", blob, d, None, Map("etl.land_s" -> d), Nil)
          pending += ((blob, t0))

        case Query(name) =>
          val before = if (trace) Some((spark.sparkContext.getPersistentRDDs.size,
            spark.conf.getAll, layers.get.jobsNow)) else None
          var buildJobs = 0L
          val t0 = System.nanoTime()
          var t1 = t0
          val (res, counts) = op {
            traced(s"ops.query:$name") {
              val df = traced("ops.build")(queries(name)(spark, data))
              t1 = System.nanoTime()
              if (trace) buildJobs = layers.get.jobsNow - before.get._3
              (traced("ops.action")(df.collect()), df.schema)
            }
          }
          val t2 = System.nanoTime()
          var extra = Map("ops.build_s" -> secs(t1 - t0),
            "ops.action_s" -> secs(t2 - t1), "ops.build_jobs" -> buildJobs.toDouble)
          before.foreach { case (rdds, conf, _) =>
            val now = spark.conf.getAll
            val changed = (conf.keySet ++ now.keySet).count(k => conf.get(k) != now.get(k))
            extra ++= Map("ops.persisted_rdds_left" ->
              math.max(0, spark.sparkContext.getPersistentRDDs.size - rdds).toDouble,
              "ops.conf_changed" -> changed.toDouble)
          }
          res match {
            case Success((rows, schema)) =>
              results += ((name, rows, schema))
              steps += opJson("query", name, secs(t2 - t0), None, extra ++ counts,
                Seq("rows" -> rows.length.toString))
            case Failure(e) =>
              steps += opJson("query", name, secs(t2 - t0), Some(errText(e)), extra ++ counts, Nil)
          }

        case LoadStep =>
          val (landing, table, checkpoint) = dirs
          val t0 = System.nanoTime()
          var t1 = t0
          val (res, counts) = op {
            traced("etl.op:load") {
              traced("etl.load")(Load.runStreamDeduped(spark, landing.toString,
                table.toString, checkpoint.toString))
              t1 = System.nanoTime()
              traced("etl.read") {
                Load.table(spark, table.toString).where(col("id").isNotNull)
                  .groupBy(col("userId"))
                  .agg(count(lit(1)).as("n"), max(col("id")).as("max_id"))
                  .orderBy(col("userId")).collect()
              }
            }
          }
          val t2 = System.nanoTime()
          val files = Option(table.toFile.listFiles).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
          val extra = Map("etl.load_s" -> secs((if (res.isSuccess) t1 else t2) - t0),
            "etl.read_s" -> (if (res.isSuccess) secs(t2 - t1) else 0.0),
            "etl.table_files" -> files.toDouble)
          val fresh = pending.toSeq.map { case (b, tl) =>
            Json.obj(Seq("blob" -> Json.str(b), "fresh_s" -> Json.num(secs(t2 - tl)))) }
          pending.clear()
          // Untimed: the table as it stands, for the model check.
          val snapshot = out.resolve(s"table_${steps.size}.tsv")
          Try(traced("bench.snapshot")(Load.table(spark, table.toString).collect())).foreach { rows =>
            Files.write(snapshot, rows.toSeq.map(r => (0 until 5).map { i =>
              if (r.isNullAt(i)) "\\N" else if (i == 4) "set" else r.get(i).toString
            }.mkString("\t")).asJava, StandardCharsets.UTF_8)
          }
          val readOut = res.toOption.map(rows => Json.arr(rows.toSeq.map(r =>
            Json.arr(Seq(r.get(0), r.getLong(1), r.get(2)).map(v => if (v == null) "null" else v.toString)))))
          steps += opJson("load", "load", secs(t2 - t0), res.failed.toOption.map(errText),
            extra ++ counts, Seq("blobs" -> Json.arr(fresh),
              "read" -> readOut.getOrElse("null"),
              "read_s" -> Json.num(if (res.isSuccess) secs(t2 - t1) else 0.0),
              "snapshot" -> (if (Files.exists(snapshot)) Json.str(snapshot.getFileName.toString) else "null")))

        case Compact(n) =>
          val t0 = System.nanoTime()
          val (res, counts) = op(traced("etl.compact")(Load.compact(spark, dirs._2.toString, n)))
          val d = secs(System.nanoTime() - t0)
          steps += opJson("compact", "compact", d, res.failed.toOption.map(errText),
            counts ++ Map("etl.compact_s" -> d), Nil)
      }
    }

    // Untimed: each query result as parquet, for the oracle comparison.
    results.foreach { case (name, rows, schema) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve("results").resolve(name).toString)
    }

    val maxima = layers.map { l =>
      l.close()
      Json.obj(l.maxima.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    if (trace) spans.write(out.resolve("spans.jsonl"))
    Files.writeString(out.resolve("run.json"), Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "cores" -> cores.toString,
      "steps" -> Json.arr(steps),
      "maxima" -> maxima.getOrElse("null"))))
    spark.stop()
  }

  private def opJson(kind: String, name: String, seconds: Double, err: Option[String],
                     counts: Map[String, Double], more: Seq[(String, String)]): String =
    Json.obj(Seq("kind" -> Json.str(kind), "name" -> Json.str(name),
      "seconds" -> Json.num(seconds), "ok" -> err.isEmpty.toString,
      "error" -> err.map(Json.str).getOrElse("null"),
      "counts" -> Json.obj(counts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })) ++ more)
}
