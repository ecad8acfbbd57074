package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Sessions, SparkEntry}
import graft.queries.{GraftQuery, Tables}

/** One benchmark run of a fixed query list, timed from outside the program.
  *
  * Closed loop, one client: the driver thread runs the list's queries one
  * after another. Each query is timed in two parts, `GraftQuery.build`
  * (which includes any eager fits and round loops) and a `noop`-sink
  * action, each under its own job group `<pass>/<query>/<part>`. After
  * every query `Sessions.sweep` drops its caches and checkpoint blocks
  * (timed, inside the pass); between passes one `System.gc()` runs outside
  * the timing. Both are fixed, so every commit pays the same hygiene.
  *
  * Set-up is repeated `--setups` times, the first timed from JVM start: a
  * fresh session plus one warm-up pass over the same tables (JIT and codegen
  * on the sizes the timed passes see) that writes each query's output as
  * one parquet file beside `oracle_sql.json`, the layout `dev/check.py`
  * reads. Then `--passes` timed passes run, and last the companion of each
  * query without an oracle writes its output too.
  *
  * With `--trace 1` the [[Recorder]] listens on passes 1, 2, 5, 6, ...
  * only (ABBA order; the other passes are the untraced reference for the
  * tracing overhead), and spans are kept in memory and written to
  * `spans.jsonl` at the end. Without it nothing is attached.
  *
  * Usage: perfbench.Main --queries q1,q2 --data DIR --out DIR
  *   --passes N --setups K --cores N --trace 0|1
  */
object Main {

  final case class Span(id: Int, trace: String, name: String, parent: Int,
      startNs: Long, endNs: Long)

  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  /** The recorder while a traced pass or set-up runs. */
  private var live: Option[Recorder] = None
  private var tracing = false

  /** Time `body`; when tracing, keep it as a span. (result, seconds) */
  private def span[T](trace: String, name: String, parent: Int)(body: Int => T): (T, Double) = {
    nextSpan += 1
    val id = nextSpan
    val t0 = System.nanoTime()
    val r = body(id)
    val t1 = System.nanoTime()
    if (tracing) spans += Span(id, trace, name, parent, t0, t1)
    (r, (t1 - t0) / 1e9)
  }

  /** Run `body` under job group `group`, marking its driver window. */
  private def part[T](spark: SparkSession, group: String, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, desc)
    val from = System.currentTimeMillis()
    try body
    finally {
      sc.clearJobGroup()
      live.foreach(_.mark(group, from, System.currentTimeMillis()))
    }
  }

  private val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Build one query, then run it into `sink`: (build s, action s, error). */
  private def runQuery(spark: SparkSession, q: GraftQuery, dir: String, tag: String,
      parent: Int, sink: DataFrame => Unit = noop): (Double, Double, Option[String]) = {
    var build = 0.0; var action = 0.0
    val err = try {
      val (df, b) = span(tag, "build", parent)(_ =>
        part(spark, s"$tag/build", q.name)(q.build(spark, dir)))
      build = b
      action = span(tag, "action", parent)(_ =>
        part(spark, s"$tag/action", q.name)(sink(df)))._2
      None
    } catch {
      case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.nextOption().getOrElse("").take(300))
    }
    (build, action, err)
  }

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val queries = opt("queries").split(",").toSeq.map { n =>
      registry.getOrElse(n, sys.error(s"unknown query $n"))
    }
    val data = opt("data"); val out = opt("out")
    val passes = opt("passes").toInt; val setupsN = opt("setups").toInt
    val cores = opt("cores").toInt
    val recorder = if (opt("trace") == "1") Some(new Recorder) else None
    tracing = recorder.isDefined
    val runStartNs = System.nanoTime()
    // JVM start on the nanoTime axis: set-up 1 is timed from process start
    val jvmStartNs = runStartNs - (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

    val verifyDir = s"$out/verify"
    def save(q: GraftQuery)(df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/${q.name}")

    // ---- set-ups: fresh session + warm-up pass, the first from JVM start
    var spark: SparkSession = null
    var verifyErrors = Map.empty[String, String]
    val setups = (1 to setupsN).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) jvmStartNs else System.nanoTime()
      val createS = span(s"setup$i", "session.create", 0) { _ => spark = session(cores) }._2
      val (warmErrs, warmupS) = span(s"setup$i", "session.warmup", 0) { id =>
        queries.flatMap { q =>
          val err = runQuery(spark, q, data, s"setup$i/${q.name}", id, save(q))._3
          Sessions.sweep(spark)
          err.map(q.name -> _)
        }.toMap
      }
      verifyErrors = warmErrs
      Map("create_s" -> createS, "warmup_s" -> warmupS,
        "setup_s" -> (System.nanoTime() - t0) / 1e9, "warmup_errors" -> warmErrs)
    }

    // ---- timed passes
    val passRows = (0 until passes).map { p =>
      // ABBA order in traced runs: neither mode always gets the first pass
      val traced = recorder.isDefined && (p % 4 == 1 || p % 4 == 2)
      tracing = traced
      live = recorder.filter(_ => traced)
      live.foreach(_.attach(spark))
      val tableLoadMs = if (!traced) 0.0 else span(s"p$p", "table_load", 0) { _ =>
        TableNames.foreach(Tables(spark, data, _))
      }._2 * 1e3
      val startMs = System.currentTimeMillis()
      var sweepS = 0.0
      val (perQuery, passS) = span(s"p$p", "pass", 0) { passId =>
        queries.map { q =>
          val tag = s"p$p/${q.name}"
          val ((b, a, err), _) = span(tag, "query", passId) { qid =>
            val r = runQuery(spark, q, data, tag, qid)
            sweepS += span(tag, "sweep", qid)(_ => Sessions.sweep(spark))._2
            r
          }
          q.name -> Map("build_s" -> b, "action_s" -> a, "error" -> err.getOrElse(""))
        }
      }
      val endMs = System.currentTimeMillis()
      val layers = live.map { r =>
        r.detach(spark)
        val all = r.total(_.startsWith(s"p$p/"))
        Map(
          "pass" -> (all.metrics.toMap ++ Map(
            "sched.driver_idle_s" -> all.idleMs(startMs, endMs) / 1e3,
            "sessions.sweep_s" -> sweepS,
            "queries.table_load_ms" -> tableLoadMs)),
          "queries" -> queries.map(q => q.name -> r.total(_.startsWith(s"p$p/${q.name}/"))
            .metrics.toMap).toMap)
      }
      live = None
      tracing = recorder.isDefined
      System.gc()
      Map("pass" -> p, "traced" -> traced, "wall_s" -> passS, "sweep_s" -> sweepS,
        "queries" -> perQuery.toMap) ++ layers.map("layers" -> _)
    }
    val rssMb = peakRssMb()

    // ---- companions of the queries without an oracle (untimed)
    val companions = queries.flatMap(_.companion).distinct
      .filterNot(queries.map(_.name).contains).map(registry)
    companions.foreach { q =>
      runQuery(spark, q, data, s"verify/${q.name}", 0, save(q))._3
        .foreach(e => verifyErrors += q.name -> e)
      Sessions.sweep(spark)
    }
    val checked = queries ++ companions
    Files.createDirectories(Paths.get(verifyDir))
    Files.write(Paths.get(s"$verifyDir/oracle_sql.json"),
      Json(checked.flatMap(q => q.oracle.map(q.name -> _)).toMap).getBytes(UTF_8))

    val result = Map(
      "queries" -> queries.map(_.name),
      "companions" -> checked.map(q => q.name -> q.companion.getOrElse("")).toMap,
      "oracle" -> checked.map(q => q.name -> q.oracle.isDefined).toMap,
      "settings" -> Map("cores" -> cores, "passes" -> passes, "setups" -> setupsN,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "shuffle_partitions" -> cores, "aqe" -> true, "timezone" -> "UTC",
        "sweep" -> "Sessions.sweep after every query, inside the pass",
        "gc" -> "System.gc() between passes, outside the timing"),
      "setups" -> setups,
      "passes" -> passRows,
      "peak_rss_mb" -> rssMb,
      "verify_errors" -> verifyErrors)
    Files.write(Paths.get(s"$out/result.json"), Json(result).getBytes(UTF_8))
    if (recorder.isDefined) {
      val lines = spans.map { s =>
        Json(Map("id" -> s.id, "trace" -> s.trace, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> (s.startNs - runStartNs) / 1e6, "end_ms" -> (s.endNs - runStartNs) / 1e6))
      }
      Files.write(Paths.get(s"$out/spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  /** High-water resident set of this JVM (`VmHWM`), MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON rendering for the run's artifacts. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
