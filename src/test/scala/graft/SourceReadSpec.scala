package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Staged
import graft.sources.Tables

/** The source-read helper resolves a parquet source's schema once per
  * file version: repeated reads launch no footer-inference job, yet
  * every read is a fresh relation that sees a rewritten file. */
class SourceReadSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A small warehouse in the test-table layout (`<name>.parquet`, here
    * multi-file directories); (l_orderkey, l_linenumber) is unique. */
  private lazy val d: String = {
    val dir = tmpDir("graft_src_tables")
    spark.range(200).select(($"id" / 4).cast("long").as("l_orderkey"),
        ($"id" % 4).cast("int").as("l_linenumber"), ($"id" % 7 + 1.0).as("l_quantity"))
      .repartition(3).write.parquet(s"$dir/lineitem.parquet")
    spark.range(50).select($"id".as("o_orderkey"), ($"id" * 10.5).as("o_totalprice"))
      .write.parquet(s"$dir/orders.parquet")
    dir
  }

  /** Spark jobs launched while `body` runs, and its result. */
  private def jobsDuring[T](body: => T): (Int, T) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    ListenerSync.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      ListenerSync.drain(spark.sparkContext)
      (n.get(), out)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a second read of an unchanged table launches no job and matches read.parquet") {
    val path = s"${tmpDir("graft_src_read")}/t.parquet"
    spark.range(100).select($"id", ($"id" * 2.5).as("x"), $"id".cast("string").as("s"))
      .coalesce(1).write.parquet(path)
    val (first, _) = jobsDuring(Tables.parquet(spark, path).schema)
    assert(first >= 1, "the first read of a file version infers its schema")
    val (second, df) = jobsDuring(Tables.parquet(spark, path))
    assert(second === 0, "a cached schema must not launch an inference job")
    val plain = spark.read.parquet(path)
    assert(df.schema === plain.schema)
    assert(df.exceptAll(plain).isEmpty && plain.exceptAll(df).isEmpty)
    // a test table too, once warm
    Tables.orders(spark, d)
    val (warm, orders) = jobsDuring(Tables.orders(spark, d))
    assert(warm === 0)
    val plainOrders = spark.read.parquet(s"$d/orders.parquet")
    assert(orders.schema === plainOrders.schema)
    assert(orders.count() === plainOrders.count())
  }

  test("overwriting a source with a different schema is picked up on the next read") {
    val path = s"${tmpDir("graft_src_overwrite")}/t.parquet"
    spark.range(10).select($"id", $"id".cast("string").as("b"))
      .write.mode("overwrite").parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("id", "b"))
    spark.range(20).select($"id", ($"id" / 2.0).as("c"))
      .write.mode("overwrite").parquet(path)
    val after = Tables.parquet(spark, path)
    assert(after.columns.toSeq === Seq("id", "c"))
    assert(after.schema("c").dataType === DoubleType)
    assert(after.count() === 20L)
  }

  test("inference settings are part of the key") {
    val path = s"${tmpDir("graft_src_conf")}/t.parquet"
    spark.range(3).write.parquet(path)
    val conf = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(conf)
    try {
      spark.conf.set(conf, "false")
      Tables.schemaOf(spark, path)
      spark.conf.set(conf, "true")
      val (flipped, _) = jobsDuring(Tables.schemaOf(spark, path))
      assert(flipped >= 1, "a changed inference setting must re-infer")
      spark.conf.set(conf, "false")
      val (back, _) = jobsDuring(Tables.schemaOf(spark, path))
      assert(back === 0, "the first setting's schema stays cached")
    } finally prev match {
      case Some(v) => spark.conf.set(conf, v)
      case None => spark.conf.unset(conf)
    }
  }

  test("a self-join of two lineitem reads resolves") {
    val a = Tables.lineitem(spark, d)
    val b = Tables.lineitem(spark, d)
    val joined = a.join(b, a("l_orderkey") === b("l_orderkey") &&
        a("l_linenumber") === b("l_linenumber"))
      .select(a("l_quantity").as("qa"), b("l_quantity").as("qb"))
    assert(joined.count() === 200L)
    assert(joined.filter($"qa" =!= $"qb").isEmpty)
  }

  test("a stage-store hit launches no job") {
    val prev = sys.props.get("graft.stage.dir")
    val store = tmpDir("graft_stage_spec")
    sys.props("graft.stage.dir") = store
    try {
      def stage = Staged.orCompute(spark, d, "spec", "squares", "t1")(
        spark.range(50).select($"id", ($"id" * $"id").as("sq")))
      val built = stage.collect().toSet
      val (jobs, hit) = jobsDuring(stage)
      assert(jobs === 0, "a stage hit must read without an inference job")
      assert(hit.collect().toSet === built)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.stage.dir") = v
        case None => sys.props -= "graft.stage.dir"
      }
      new scala.reflect.io.Directory(new java.io.File(store)).deleteRecursively()
    }
  }
}
