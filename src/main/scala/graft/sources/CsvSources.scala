package graft.sources

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Tables

/** CSV ingestion — the reference's bronze layer (SURVEY.md §2.1 S1/S2):
  *
  *  - S1: MITMA daily OD file — gzipped, `|`-separated, read permissively
  *    with every column as VARCHAR and malformed rows tolerated
  *    (`read_csv_auto(url, compression='gzip', ignore_errors=true,
  *    all_varchar=true)`, `dags/mitma/bronze_mitma.py:49-69`) →
  *    `spark.read.schema(allVarchar).option("mode","DROPMALFORMED")`.
  *  - S2: INE economy/population file — `;`-separated with schema
  *    inference (`read_csv(path, ignore_errors=true)`,
  *    `dags/Economy/ingestion_bronze_economy.py:14-17`) →
  *    `.option("sep",";").option("inferSchema",true)`.
  *
  * The fixture files are generated ONCE per scale factor from the
  * harness parquet (deterministic content, ordered by key; corrupt lines
  * injected at fixed intervals), then re-used — the same skip-if-present
  * idempotency the reference's ingest tasks use
  * (`dags/mitma/bronze_mitma.py:38-47`). The DuckDB oracle reads the
  * SAME files with `read_csv`, so the parse itself (including which
  * malformed rows get dropped) is what is being verified, not just the
  * downstream aggregation.
  *
  * Scale notes: a gzipped CSV is not splittable — one Spark task per
  * file, which matches the reference's one-file-per-day layout (daily
  * fan-out gives the parallelism, not intra-file splits). The permissive
  * all-string bronze schema means NO type coercion happens at scan time;
  * typing is silver's job (TRY_CAST battery), so a bad day's file can
  * never fail the ingest.
  */
object CsvSources {

  /** Bump when fixture content/format changes — the generator skips
    * work if the versioned file already exists. */
  private val FixtureVersion = 2

  private def fixtureDir(sfDir: String): File =
    new File(s"${graft.etl.Medallion.warehouseBase}/${new File(sfDir).getName}/fixtures")

  private def writeLines(target: File, gzip: Boolean)(lines: Iterator[String]): Unit = {
    target.getParentFile.mkdirs()
    val tmp = new File(target.getParentFile, target.getName + ".tmp")
    val out = new FileOutputStream(tmp)
    val w = new BufferedWriter(new OutputStreamWriter(
      if (gzip) new GZIPOutputStream(out) else out, StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write("\n") }
    finally w.close()
    if (!tmp.renameTo(target)) sys.error(s"fixture rename failed: $target")
  }

  /** MITMA-shaped daily OD fixture: header + one `|`-separated line per
    * order, with a short line injected every 97 rows and an over-long
    * line every 211 — both dropped identically by Spark DROPMALFORMED
    * and DuckDB ignore_errors (verified behavior, not assumed).
    * `viajes` (price/1000) and `viajes_km` (price/100) are 3 dp values
    * quantized from integer cents by [[graft.ops.Parity.halfUp]], so an
    * oracle can recompute them exactly with [[graft.ops.Parity.halfUpSql]].
    */
  def mitmaCsvGz(spark: SparkSession, sfDir: String): String = {
    val f = new File(fixtureDir(sfDir), s"mitma_v$FixtureVersion.csv.gz")
    if (!f.exists()) {
      val cents = floor(col("o_totalprice") * 100 + 0.5)
      val rows = Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          graft.ops.Parity.halfUp(cents, lit(100L)).as("viajes_e3"),
          graft.ops.Parity.halfUp(cents, lit(10L)).as("viajes_km_e3"))
        .orderBy(col("o_orderkey"))
        .collect()
      writeLines(f, gzip = true) {
        val header = Iterator.single(
          "fecha|origen|destino|periodo|distancia|viajes|viajes_km")
        val body = rows.iterator.zipWithIndex.flatMap { case (r, i) =>
          val k = r.getLong(0); val c = r.getLong(1)
          val fecha = r.getDate(2).toLocalDate
            .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
          val viajes = BigDecimal(r.getLong(3), 3)
          val viajesKm = BigDecimal(r.getLong(4), 3)
          val line =
            s"$fecha|Z${c % 50}|Z${k % 50}|${k % 24}|D${k % 10}|$viajes|$viajesKm"
          // note: a SINGLE-token line is not malformed to Spark's
          // univocity parser (it pads the missing columns with null);
          // two tokens vs a 7-column schema is dropped by both engines.
          val corrupt =
            if (i % 97 == 96) Seq("FICHERO|CORRUPTO")
            else if (i % 211 == 210) Seq(s"$line|EXTRA_CAMPO")
            else Seq.empty
          corrupt.iterator ++ Iterator.single(line)
        }
        header ++ body
      }
    }
    f.getAbsolutePath
  }

  /** INE-shaped `;`-separated economy fixture (clean — malformed
    * tolerance is S1's concern; this one exercises delimiter + schema
    * inference). */
  def ineCsv(spark: SparkSession, sfDir: String): String = {
    val f = new File(fixtureDir(sfDir), s"ine_economy_v$FixtureVersion.csv")
    if (!f.exists()) {
      val rows = Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
        .collect()
      writeLines(f, gzip = false) {
        Iterator.single("Municipios;Periodo;Total") ++
          rows.iterator.map { r =>
            val k = r.getLong(0)
            val bal = BigDecimal(r.getDouble(1))
              .setScale(2, BigDecimal.RoundingMode.HALF_UP)
            s"${10000 + k % 100} Municipio ${k % 100};${2020 + k % 4};$bal"
          }
      }
    }
    f.getAbsolutePath
  }

  private val mitmaCols = Seq(
    "fecha", "origen", "destino", "periodo", "distancia", "viajes", "viajes_km")

  // ------------------------------------------------------------------
  /** S1 + P1: permissive all-varchar gzipped scan, then the bronze→
    * silver rename projection and typing (`bronze_mitma.py:51-67` +
    * `silver_mitma.py:119-139` in miniature), aggregated per origin. */
  def csvScanPermissive(spark: SparkSession, sfDir: String): DataFrame = {
    val path = mitmaCsvGz(spark, sfDir)
    val bronze = spark.read
      .option("header", true).option("sep", "|").option("mode", "DROPMALFORMED")
      .schema(StructType(mitmaCols.map(StructField(_, StringType))))
      .csv(path)
    // The aggregate consumes EVERY bronze column on purpose: Spark prunes
    // CSV parsing to the referenced columns, and a token-count mismatch
    // in an unparsed column region goes undetected — malformed-row drops
    // only mirror DuckDB's ignore_errors when the full row is parsed.
    bronze
      .select(
        to_date(col("fecha"), "yyyyMMdd").as("date"),
        col("origen").as("origin_zone"),
        col("destino").as("destination_zone"),
        col("periodo").cast("int").as("hour_period"),
        col("distancia").as("distance_range"),
        col("viajes").cast("double").as("trips"),
        col("viajes_km").cast("double").as("trips_km"))
      .groupBy(col("origin_zone"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("trips")), 4).as("sum_trips"),
        round(sum(col("trips_km")), 4).as("sum_trips_km"),
        countDistinct(col("destination_zone")).as("n_dest"),
        countDistinct(col("hour_period")).as("n_periods"),
        countDistinct(col("distance_range")).as("n_ranges"),
        min(col("date")).as("first_day"),
        max(col("date")).as("last_day"))
      .orderBy(col("origin_zone"))
  }

  /** Oracle over the SAME file — path is resolved for the sf0.01 dir the
    * driver verifies at. */
  private def csvScanPermissiveOracle(path: String) =
    s"""SELECT origen AS origin_zone, COUNT(*) AS n_rows,
       |       ROUND(SUM(CAST(viajes AS DOUBLE)), 4) AS sum_trips,
       |       ROUND(SUM(CAST(viajes_km AS DOUBLE)), 4) AS sum_trips_km,
       |       COUNT(DISTINCT destino) AS n_dest,
       |       COUNT(DISTINCT CAST(periodo AS INTEGER)) AS n_periods,
       |       COUNT(DISTINCT distancia) AS n_ranges,
       |       MIN(CAST(strptime(fecha, '%Y%m%d') AS DATE)) AS first_day,
       |       MAX(CAST(strptime(fecha, '%Y%m%d') AS DATE)) AS last_day
       |FROM read_csv('$path', delim='|', header=true, all_varchar=true,
       |              ignore_errors=true, compression='gzip')
       |GROUP BY origen ORDER BY origin_zone""".stripMargin

  // ------------------------------------------------------------------
  /** S2 + F3: `;`-separated inferred-schema scan, leading municipality
    * code split out of "46250 Valencia"-style labels
    * (`transform_silver_economy.py:35-37`), income averaged per
    * (code, year). */
  def csvScanInfer(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ineCsv(spark, sfDir)
    spark.read
      .option("header", true).option("sep", ";").option("inferSchema", true)
      .csv(path)
      .select(
        split(col("Municipios"), " ").getItem(0).as("municipality_code"),
        col("Periodo").cast("int").as("year"),
        col("Total").cast("double").as("income"))
      .groupBy(col("municipality_code"), col("year"))
      // stableAvg: income is 2dp-quantized, and ROUND(AVG) of quantized
      // data can land on exact 4dp half-boundaries (Parity scaladoc)
      .agg(count(lit(1)).as("n_rows"),
        graft.ops.Parity.stableAvg(col("income")).as("avg_income"))
      .orderBy(col("municipality_code"), col("year"))
  }

  private def csvScanInferOracle(path: String) =
    s"""SELECT split_part(Municipios, ' ', 1) AS municipality_code,
       |       CAST(Periodo AS INTEGER) AS year, COUNT(*) AS n_rows,
       |       ${graft.ops.Parity.stableAvgSql("CAST(Total AS DOUBLE)")} AS avg_income
       |FROM read_csv('$path', delim=';', header=true)
       |GROUP BY 1, 2 ORDER BY municipality_code, year""".stripMargin

  // ------------------------------------------------------------------
  /** S1's other half — reject-stream ingest: where DROPMALFORMED
    * silently discards bad lines, a production bronze KEEPS them so the
    * reject stream can be counted, alerted on, and replayed. The raw
    * file is read as LINES (gzip handled by the text source), each line
    * classified by token count, and only well-formed lines are parsed —
    * the keep-raw-parse-later pattern. (Spark's PERMISSIVE
    * `_corrupt_record` capture does NOT fire here: with an all-varchar
    * schema the univocity parser pads short rows and truncates long
    * ones without error, so token-count rejects are only detectable
    * before parsing — measured, which is why this op classifies raw
    * lines instead.) The oracle recomputes the reject accounting from
    * `orders` via the fixture generator's own insertion arithmetic — a
    * capture that missed or double-counted a corrupt line fails the
    * hash.
    */
  def csvCorruptCapture(spark: SparkSession, sfDir: String): DataFrame = {
    val path = mitmaCsvGz(spark, sfDir)
    val header = mitmaCols.mkString("|")
    val toks = size(split(col("value"), "\\|"))
    spark.read.text(path)
      .filter(col("value") =!= lit(header))
      .agg(
        sum(when(toks === 7, 1).otherwise(0)).cast("long").as("n_good"),
        sum(when(toks =!= 7, 1).otherwise(0)).cast("long").as("n_corrupt"),
        sum(when(toks === 2, 1).otherwise(0)).cast("long").as("n_short"),
        sum(when(toks === 8, 1).otherwise(0)).cast("long").as("n_long"),
        round(sum(when(toks === 7,
          split(col("value"), "\\|").getItem(5).cast("double"))), 4)
          .as("sum_trips"))
  }

  /** Reject accounting recomputed from the generator's arithmetic: a
    * short line lands after every 97th order, a long line after every
    * 211th UNLESS the short rule already fired (else-if); `viajes` is
    * re-quantized from cents exactly as [[mitmaCsvGz]] writes it. */
  private val csvCorruptCaptureOracle = {
    val viajesE3 = graft.ops.Parity.halfUpSql(
      "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)", "100")
    s"""WITH numbered AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS i,
      |         o_totalprice
      |  FROM orders)
      |SELECT COUNT(*) AS n_good,
      |       CAST(SUM(CASE WHEN i % 97 = 96 OR i % 211 = 210
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
      |       CAST(SUM(CASE WHEN i % 97 = 96 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_short,
      |       CAST(SUM(CASE WHEN i % 97 <> 96 AND i % 211 = 210
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
      |       ROUND(SUM(CAST($viajesE3 AS DOUBLE) / 1000.0), 4) AS sum_trips
      |FROM numbered""".stripMargin
  }

  // ------------------------------------------------------- fixed width
  /** Mainframe-style fixed-width export of the supplier table: 8-digit
    * key, 4-digit nation, sign char + 11-digit zero-padded cents,
    * 18-char space-padded name — no delimiter anywhere. */
  def fixedWidthFile(spark: SparkSession, sfDir: String): String = {
    val f = new File(fixtureDir(sfDir), s"supplier_fw_v$FixtureVersion.dat")
    if (!f.exists()) {
      val rows = Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_nationkey"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("cents"),
          col("s_name"))
        .orderBy(col("s_suppkey"))
        .collect()
      writeLines(f, gzip = false) {
        rows.iterator.map { r =>
          val cents = r.getLong(2)
          val sign = if (cents < 0) "-" else "+"
          val name = r.getString(3).take(18).padTo(18, ' ')
          f"${r.getLong(0)}%08d${r.getInt(1)}%04d$sign${math.abs(cents)}%011d$name"
        }
      }
    }
    f.getAbsolutePath
  }

  /** Fixed-width scan: `spark.read.text` + substring/cast slicing — the
    * ingestion path for COBOL-era extracts that carry no delimiter at
    * all. The parse is pure map-side codegen (substring + cast on the
    * line column); the text source splits by line, so a 100 TB extract
    * parallelizes like any other text scan (unlike the gzip CSVs above,
    * which are one task per file). The aggregate forces every sliced
    * column through a typed use so pruning can't skip the parse; the
    * DuckDB oracle re-slices the SAME file with substr arithmetic.
    */
  def fixedWidthScan(spark: SparkSession, sfDir: String): DataFrame = {
    val path = fixedWidthFile(spark, sfDir)
    spark.read.text(path)
      .select(
        substring(col("value"), 1, 8).cast("long").as("s_suppkey"),
        substring(col("value"), 9, 4).cast("int").as("s_nationkey"),
        (when(substring(col("value"), 13, 1) === "-", -1L).otherwise(1L) *
          substring(col("value"), 14, 11).cast("long")).as("cents"),
        trim(substring(col("value"), 25, 18)).as("s_name"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        min(col("s_suppkey")).as("min_key"),
        sum(col("cents")).as("tot_cents"),
        max(length(col("s_name"))).as("name_w"))
      .orderBy(col("s_nationkey"))
  }

  private def fixedWidthScanOracle(path: String) =
    s"""WITH p AS (
       |  SELECT CAST(substr(line, 1, 8) AS BIGINT) AS s_suppkey,
       |         CAST(substr(line, 9, 4) AS INTEGER) AS s_nationkey,
       |         (CASE WHEN substr(line, 13, 1) = '-' THEN -1 ELSE 1 END)
       |           * CAST(substr(line, 14, 11) AS BIGINT) AS cents,
       |         trim(substr(line, 25, 18)) AS s_name
       |  FROM read_csv('$path', columns={'line': 'VARCHAR'},
       |                delim='|', header=false))
       |SELECT s_nationkey, COUNT(*) AS n_suppliers,
       |       MIN(s_suppkey) AS min_key,
       |       CAST(SUM(cents) AS BIGINT) AS tot_cents,
       |       CAST(MAX(length(s_name)) AS INTEGER) AS name_w
       |FROM p GROUP BY 1 ORDER BY s_nationkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_csv_scan_permissive" -> (csvScanPermissive _),
    "q_csv_scan_infer" -> (csvScanInfer _),
    "q_csv_corrupt_capture" -> (csvCorruptCapture _),
    "q_fixed_width_scan" -> (fixedWidthScan _)
  )

  /** The oracle SQL must embed a concrete fixture path, so this map —
    * alone in the oracle surface — is sfDir-dependent. The sfDir is
    * threaded EXPLICITLY from the caller (`SparkEntry.oracleSqlFor`):
    * no process-global side channel deciding which scale factor's
    * fixture the SQL points at. (Fixtures are generated by the Spark
    * queries, which Verify runs before any oracle executes.) */
  def oracles(sfDir: String): Map[String, String] = {
    val dir = fixtureDir(sfDir).getAbsolutePath
    Map(
      "q_csv_scan_permissive" ->
        csvScanPermissiveOracle(s"$dir/mitma_v$FixtureVersion.csv.gz"),
      "q_csv_scan_infer" ->
        csvScanInferOracle(s"$dir/ine_economy_v$FixtureVersion.csv"),
      "q_csv_corrupt_capture" -> csvCorruptCaptureOracle,
      "q_fixed_width_scan" ->
        fixedWidthScanOracle(s"$dir/supplier_fw_v$FixtureVersion.dat")
    )
  }
}
