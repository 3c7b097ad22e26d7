package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: drives graft's public entry points from
  * outside the `graft` package, one client in a closed loop.
  *
  *   perfbench.Main <plan file>
  *
  * The plan (written by `run.py`) names the workload, the fixture, the
  * measuring time and, for the surface workloads, the registry queries
  * in run order. The run is: `setup_reps` cold session set-ups (the
  * last session is kept), one verify round whose results are dumped for
  * the DuckDB oracle, then rounds until `seconds` have passed; with
  * `trace 1` a second window of the same length runs with [[Trace]]
  * attached. Everything measured goes to `<out>/records.jsonl`; the
  * statistics are computed by `run.py`.
  */
object Main {
  /** One operation: `build` calls into graft and returns the frame;
    * `sink` materializes it (collect, or a table write). */
  final case class Op(step: String, layer: String, oracle: Option[String],
      build: SparkSession => DataFrame, sink: Sink)

  sealed trait Sink
  case object Collect extends Sink
  final case class WriteTo(path: String) extends Sink

  final class Out(path: String) {
    private val w = new PrintWriter(Files.newBufferedWriter(Paths.get(path)))
    def apply(fields: (String, Any)*): Unit = synchronized {
      w.println(fields.map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }
        .mkString("{", ",", "}"))
      w.flush()
    }
    def close(): Unit = w.close()
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val outDir = plan("out")
    val out = new Out(s"$outDir/records.jsonl")
    val fixture = plan("fixture")
    val cpus = plan("cpus")
    val reps = plan("setup_reps").toInt
    require(reps >= 1, "setup_reps must be >= 1")

    val sessions = (1 to reps).map { i =>
      val w0 = workCpuNanos()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      val s = session(cpus, outDir)
      warm(s, fixture, plan("tables").split(' ').toSeq)
      out("kind" -> "setup", "rep" -> i, "s" -> (System.nanoTime() - t0) / 1e9,
        "cpu_s" -> (cpuNanos() - c0) / 1e9, "work_cpu_s" -> workCpuSince(w0) / 1e9)
      if (i < reps) {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      s
    }
    val spark = sessions.last
    val registry = graft.SparkEntry.queries
    val warehouseBase = sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
      sys.error("SPARK_GRAFT_WAREHOUSE must name the run's warehouse"))
    Files.write(Paths.get(s"$outDir/registry.txt"), registry.keys.toSeq.sorted.asJava)

    val workload = plan("workload")
    val round: Int => Seq[Op] = workload match {
      case "pipeline_dag" => new Dag(fixture, outDir, warehouseBase, registry).round
      case _ =>
        val ops = plan.ops.map { name =>
          val fn = registry.getOrElse(name,
            sys.error(s"query $name is not a registry key"))
          Op(name, "query", Some(name), s => fn(s, fixture), Collect)
        }
        _ => ops
    }
    val runner = new Runner(spark, out, outDir, fixture, warehouseBase)
    val seconds = plan("seconds").toDouble
    var n = 0
    def window(name: String, budget: Double, trace: Option[Trace]): Unit = {
      val t0 = System.nanoTime()
      var rounds = 0
      while (rounds == 0 || (budget > 0 && (System.nanoTime() - t0) / 1e9 < budget)) {
        n += 1; rounds += 1
        runner.round(name, n, round(n), trace)
      }
    }
    window("verify", 0, None)
    window("untraced", seconds, None)
    if (plan("trace") == "1") {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      window("traced", seconds, Some(t))
      spark.sparkContext.removeSparkListener(t)
    }
    runner.writeOracles()
    runner.scanned.foreach { case (step, tables) =>
      out("kind" -> "inputs", "step" -> step, "tables" -> tables)
    }
    out("kind" -> "info",
      "spark_version" -> spark.version,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "master" -> spark.sparkContext.master,
      "peak_rss_kb" -> peakRssKb())
    out.close()
    spark.stop()
  }

  def session(cpus: String, outDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse/catalog")
      .getOrCreate()

  /** Cold set-up work: each of the workload's tables through graft's
    * scan seam, counted. */
  def warm(spark: SparkSession, fixture: String, tables: Seq[String]): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    import graft.Tables
    val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    tables.foreach(t => loaders.getOrElse(t, sys.error(s"no loader for table $t"))(spark, fixture).count())
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (every thread, JIT and GC included). */
  def cpuNanos(): Long = osBean.getProcessCpuTime

  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time (ns) per live Java thread: the driver and task threads
    * and Spark's helpers, but not the JIT compiler or GC threads, which
    * are hidden from this view. Their work depends on how far
    * compilation has got, not on the query. */
  def workCpuNanos(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator
      .map(id => id -> threadBean.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  def workCpuSince(start: Map[Long, Long]): Long =
    workCpuNanos().iterator.map { case (id, t) => t - start.getOrElse(id, 0L) }.sum

  def peakRssKb(): Long =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    }.getOrElse(0L)

  /** The reference DAG on a fresh warehouse location per iteration:
    * bronze ingest → write, silver partition replace, both gold
    * builds, then the report queries that read the gold tables. */
  object Dag {
    val goldTables = Seq("gold_typical_day_patterns", "gold_gravity_ranking")
  }

  final class Dag(fixture: String, outDir: String, warehouseBase: String,
      reg: Map[String, (SparkSession, String) => DataFrame]) {

    /** graft keys its warehouse location on the input directory's name,
      * so each iteration reads the fixture through a new link name. */
    def iterDir(n: Int): String = s"$outDir/dag/iter_$n"
    def warehouse(n: Int): String = s"$warehouseBase/iter_$n"

    def round(n: Int): Seq[Op] = {
      val dir = iterDir(n)
      Files.createDirectories(Paths.get(s"$outDir/dag"))
      Files.createSymbolicLink(Paths.get(dir), Paths.get(fixture))
      require(!new File(warehouse(n)).exists(), s"warehouse ${warehouse(n)} already used")
      Seq(
        Op("bronze", "bronze", None,
          s => graft.etl.SilverMobility.bronzeIngest(s, dir),
          WriteTo(s"${warehouse(n)}/bronze_mobility")),
        Op("silver", "silver", Some("q_partition_replace"),
          s => graft.etl.Medallion.partitionReplace(s, dir), Collect),
        Op("gold.typical_day", "gold", Some("typical_day"),
          s => graft.gold.TypicalDay.goldTable(s, dir), Collect),
        Op("gold.gravity_ranking", "gold", Some("q_gravity_model"),
          s => graft.ops.GravityOps.goldRanking(s, dir), Collect)) ++
        Seq("q_bq1_report", "q_peak_hour", "q_gravity_model", "q_long_trip").map { q =>
          Op(q, "report", Some(q), s => reg(q)(s, dir), Collect)
        }
    }
  }

  /** Runs rounds of operations, times their phases, checks results. */
  final class Runner(spark: SparkSession, out: Out, outDir: String,
      fixture: String, warehouseBase: String) {
    private val verified = mutable.LinkedHashMap.empty[String, String]
    private val oracles = mutable.LinkedHashMap.empty[String, String]
    /** Per step, the parquet inputs its verify-round result was read from. */
    val scanned = mutable.LinkedHashMap.empty[String, String]

    def round(window: String, n: Int, ops: Seq[Op], trace: Option[Trace]): Unit = {
      val rec = ops.zipWithIndex.map { case (op, i) =>
        val id = s"$window.$n.$i"
        val w0 = workCpuNanos()
        val c0 = cpuNanos()
        val t0 = System.nanoTime()
        spark.sparkContext.setLocalProperty(Trace.OpKey, id)
        val (phases, result) = try execute(op) finally
          spark.sparkContext.setLocalProperty(Trace.OpKey, null)
        val r = phases.copy(wallMs = (System.nanoTime() - t0) / 1e6,
          cpuMs = (cpuNanos() - c0) / 1e6, workCpuMs = workCpuSince(w0) / 1e6)
        val error = r.error.orElse(result.flatMap { case (df, rows) =>
          scala.util.Try(check(op, df, rows)).fold(t => Some(s"check failed: $t"), identity)
        })
        spark.catalog.clearCache()
        (op, id, r.copy(error = error))
      }
      trace.foreach(_.drain(spark))
      rec.foreach { case (op, id, r) =>
        val counters = trace.map(_.snapshot(id, r.execFrom, r.execTo).fields).getOrElse(Nil)
        out((Seq[(String, Any)]("kind" -> "op", "window" -> window, "round" -> n,
          "step" -> op.step, "layer" -> op.layer, "ok" -> r.error.isEmpty,
          "error" -> r.error.orNull, "rows" -> r.rows,
          "wall_ms" -> r.wallMs, "cpu_ms" -> r.cpuMs, "work_cpu_ms" -> r.workCpuMs,
          "build_ms" -> r.buildMs, "plan_ms" -> r.planMs,
          "exec_ms" -> r.execMs) ++ counters): _*)
      }
      val wall = rec.map(_._3.wallMs).sum
      val written = if (ops.exists(_.layer == "gold")) writtenBy(n) else Nil
      out((Seq[(String, Any)]("kind" -> "round", "window" -> window, "round" -> n,
        "wall_ms" -> wall, "ops" -> ops.size) ++ written): _*)
    }

    /** Phase times (ms); `execFrom`/`execTo` bound the execute phase in
      * epoch ms for the listener's job intervals. */
    final case class Result(buildMs: Double, planMs: Double, execMs: Double,
        execFrom: Long, execTo: Long, rows: Long, error: Option[String],
        wallMs: Double = 0, cpuMs: Double = 0, workCpuMs: Double = 0)

    /** Times build (the call into graft), plan (forced physical plan)
      * and execute (full materialization) of one operation. */
    private def execute(op: Op): (Result, Option[(DataFrame, Array[Row])]) = {
      var (b, p, e, ef, et) = (0.0, 0.0, 0.0, 0L, 0L)
      val t0 = System.nanoTime()
      try {
        val df = op.build(spark)
        val t1 = System.nanoTime(); b = (t1 - t0) / 1e6
        df.queryExecution.executedPlan
        val t2 = System.nanoTime(); p = (t2 - t1) / 1e6
        ef = System.currentTimeMillis()
        val rows = op.sink match {
          case Collect => df.collect()
          case WriteTo(path) => df.write.mode("overwrite").parquet(path); Array.empty[Row]
        }
        et = System.currentTimeMillis()
        val t3 = System.nanoTime(); e = (t3 - t2) / 1e6
        (Result(b, p, e, ef, et, rows.length, None), Some((df, rows)))
      } catch {
        case t: Throwable =>
          val msg = s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(400)}"
          (Result(b, p, e, ef, et, 0, Some(msg)), None)
      }
    }

    /** Outside the timed region: the verify round dumps each result for
      * the oracle; every later execution must equal the verified one. */
    private def check(op: Op, df: DataFrame, rows: Array[Row]): Option[String] =
      op.sink match {
        case WriteTo(path) =>
          val n = spark.read.parquet(path).count()
          if (n > 0) None else Some(s"bronze write at $path holds no rows")
        case Collect =>
          val digest = Canon.digest(df.schema, rows)
          verified.get(op.step) match {
            case None =>
              verified(op.step) = digest
              scanned(op.step) = df.inputFiles.map(f => new File(new java.net.URI(f).getPath))
                .map(f => if (f.getName.endsWith(".parquet")) f.getName.stripSuffix(".parquet")
                  else f.getParentFile.getName.stripSuffix(".parquet"))
                .distinct.sorted.mkString(" ")
              op.oracle.foreach { name =>
                val dump = s"$outDir/verify/${op.step}"
                spark.createDataFrame(rows.toSeq.asJava, df.schema)
                  .coalesce(1).write.mode("overwrite").parquet(dump)
                oracles(op.step) = name
              }
              None
            case Some(d) if d == digest => None
            case Some(_) => Some("result differs from the verify round's result")
          }
      }

    /** Files and bytes under the iteration's warehouse and the gold
      * tables built there. */
    private def writtenBy(n: Int): Seq[(String, Any)] = {
      val wh = new File(s"$warehouseBase/iter_$n")
      val files = if (wh.exists())
        Files.walk(wh.toPath).iterator().asScala.map(_.toFile)
          .filter(f => f.isFile && f.getName.startsWith("part-")).toSeq
      else Nil
      val gold = Dag.goldTables.count(t => new File(wh, s"$t/_SUCCESS").exists())
      Seq("files_written" -> files.size, "bytes_written" -> files.map(_.length).sum,
        "gold_builds" -> gold)
    }

    def writeOracles(): Unit = {
      val sql = graft.SparkEntry.oracleSqlFor(fixture)
      val w = new Out(s"$outDir/oracles.jsonl")
      try oracles.foreach { case (step, name) =>
        w("step" -> step, "name" -> name, "dump" -> s"$outDir/verify/$step",
          "sql" -> sql.get(name).orNull)
      } finally w.close()
    }
  }
}

/** Order-insensitive digest of a result: columns by name, doubles at
  * 6 dp with -0.0 folded, rows sorted. */
object Canon {
  def digest(schema: org.apache.spark.sql.types.StructType, rows: Array[Row]): String = {
    val idx = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => fmt(d)
      case f: Float => fmt(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case other => other.toString
    }
    def fmt(d: Double): String =
      if (d.isNaN || d.isInfinite) d.toString
      else (BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble + 0.0).toString
    val lines = rows.map(r => idx.map(i => render(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString + s":${lines.length}"
  }
}

/** `key value` lines; `op <name>` lines repeat, in run order. */
final case class Plan(kv: Map[String, String], ops: Vector[String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"plan has no '$k'"))
}

object Plan {
  def read(path: String): Plan = {
    val lines = scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty)
      .map { l => val i = l.indexOf(' '); (l.take(i), l.drop(i + 1)) }.toVector
    Plan(lines.filter(_._1 != "op").toMap, lines.filter(_._1 == "op").map(_._2))
  }
}

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

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }
}
