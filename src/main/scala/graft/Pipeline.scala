package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.mart.Extracts
import graft.ods.OdsBuild
import graft.sources.Tables
import graft.stg.Staging

/** Capstone demo main — the reference's full ETL chain (SURVEY.md §3
  * E1→E2→E3) as one Spark job over the reference's own sample data:
  *
  *   E1 staging: KC=F.csv scan (literal-null handling) → row-count
  *     reconciliation → upsert by natural key → audit log
  *   E2 ODS: per-contract snapshot → five-window feature select →
  *     dimension builds → role-playing star joins → 16-column fact
  *   E3 mart: NY-price / spread / MA / COT extracts → golden-format CSVs
  *
  * The barchart snapshot table is synthesized from the OHLCV series (two
  * contract months: front = Close, second = Close + a 2.0 carry) because
  * the reference repo ships only the continuous series — the operator
  * chain is exactly the reference's.
  *
  * Usage: runMain graft.Pipeline [outDir]. The reference checkout is
  * found at `$GRAFT_REFERENCE_DIR` ([[Tables.referenceDir]]).
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_pipeline")
    val srcPath = Tables.referencePath("Data Sample/KC=F.csv")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val t0 = System.currentTimeMillis()

    // ---- E1: staging ------------------------------------------------
    val rawLines = Tables.rawLineCount(spark, srcPath)
    val ohlcv = Tables.readOhlcvCsv(spark, srcPath)
    val staged = ohlcv.filter($"Close".isNotNull)
    // upsert into the staging store (empty target on first run)
    val stgPath = s"$outDir/stg_ohlcv"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(stgPath)
    val fresh = new org.apache.hadoop.fs.Path(s"$stgPath.new")
    val bak = new org.apache.hadoop.fs.Path(s"$stgPath.bak")
    // crash recovery: a previous run that died between its two swap
    // renames leaves the live store missing and the .bak holding the
    // only copy — restore it before reading, or the upsert history is
    // silently lost (and the .bak deleted below)
    if (!fs.exists(live) && fs.exists(bak))
      fs.rename(bak, live)
    val target = scala.util.Try(spark.read.parquet(stgPath))
      .getOrElse(staged.limit(0))
    Staging.upsertByNaturalKey(target, staged, Seq("Date"))
      .write.mode(SaveMode.Overwrite).parquet(s"$stgPath.new")
    // swap (parquet can't overwrite its own input): old → .bak first so
    // a crash at any point leaves a recoverable copy, then new → live,
    // then drop the .bak
    fs.delete(bak, true)
    if (fs.exists(live) && !fs.rename(live, bak))
      throw new java.io.IOException(
        s"staging swap failed: could not set aside $stgPath as $bak")
    if (!fs.rename(fresh, live)) {
      // rename signals failure by return value, not exception; restore
      // the set-aside copy before failing
      fs.rename(bak, live)
      throw new java.io.IOException(
        s"staging swap failed: could not rename $fresh to $stgPath")
    }
    fs.delete(bak, true)
    val stg = spark.read.parquet(stgPath)
    Staging.reconcileAndLog(spark, s"$outDir/audit", "pipeline",
      "KC=F.csv", "stg_ohlcv", ohlcv, stg, t0)

    // ---- E2: ODS star build ----------------------------------------
    // synthesize the two-contract-month snapshot from the series
    val base = stg.select(
      $"Date".as("snapshot_date"), $"Open", $"High", $"Low", $"Close", $"Volume")
    val mo2 = base.select(
      concat(lit("KC-F"), date_format($"snapshot_date", "yyMM")).as("contract"),
      lit("front").as("timing"), lit("2").as("mo"), lit("+0").as("change"),
      $"Open".as("prev_open"), $"High".as("high"), $"Low".as("low"),
      $"Open".as("prev"), $"Close".cast("string").as("last"),
      $"Volume".as("volume"), lit(0L).as("oi"), $"snapshot_date")
    val mo3 = mo2.withColumn("mo", lit("3"))
      .withColumn("contract", concat(lit("KC-G"), date_format($"snapshot_date", "yyMM")))
      .withColumn("last", (col("last").cast("double") + 2.0).cast("string"))
    val snapshot = mo2.unionByName(mo3)
    val dimDate = OdsBuild.buildDateDim(snapshot, "snapshot_date")
    val dimContract = OdsBuild.buildContractDim(snapshot, "contract")
    val fact = OdsBuild.buildFact(snapshot, dimDate, dimContract)
      .join(broadcast(dimDate), Seq("date_id"))
    fact.write.mode(SaveMode.Overwrite).parquet(s"$outDir/ods_fact")

    // ---- E3: mart extracts -----------------------------------------
    val factR = spark.read.parquet(s"$outDir/ods_fact")
    val ny = Extracts.nyPrices(factR, 2020, Seq(2, 3))
    val spreadDf = Extracts.spread(ny)
    Extracts.writeGoldenCsv(ny, s"$outDir/ny_prices", Seq("date_actual"))
    Extracts.writeGoldenCsv(spreadDf, s"$outDir/spread", Seq("date_actual"))
    Extracts.writeGoldenCsv(Extracts.maExtract(factR, 2020), s"$outDir/ma", Seq("date_actual"))

    val nyN = ny.count()
    val spreadN = spreadDf.count()
    val factN = factR.count()
    println(s"[pipeline] raw_lines=$rawLines staged=${stg.count()} " +
      s"fact=$factN ny_2020=$nyN spread_2020=$spreadN " +
      s"elapsed=${(System.currentTimeMillis() - t0) / 1000.0}s out=$outDir")
    spark.stop()
  }
}
