package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a Hadoop setting submitted through the SparkConf, the way
      // deployments pass fs credentials (FsWalkSpec checks that tasks
      // see it)
      .config("spark.hadoop.graft.spec.marker", "from-sparkconf")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalQueriesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only queries are allowed but must be deliberate; keep the list
    // here so additions are reviewed.
    val rowsOnly = Set.empty[String]
    assert(missing == rowsOnly, s"queries without oracle: $missing")
  }

  test("all queries execute on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("w1 reading order is dense per customer") {
    val df = SparkEntry.queries("w1_reading_order")(spark, sf)
    import spark.implicits._
    val byCust = df.groupBy("o_custkey")
      .agg(org.apache.spark.sql.functions.max("ro").as("mx"),
        org.apache.spark.sql.functions.count("*").as("n"))
      .filter($"mx" =!= $"n").count()
    assert(byCust == 0, "row_number must be dense 1..n within each partition")
  }

  test("c2 id parse round-trips c1 mint") {
    val df = SparkEntry.queries("c2_id_parse")(spark, sf)
    import spark.implicits._
    assert(df.filter($"alias" =!= "GDL").count() == 0)
    assert(df.filter($"item_n" =!= $"o_orderkey" % 10000).count() == 0)
  }

  test("u4 dedup count is bounded by total rows") {
    val n = SparkEntry.queries("u4_dedup_count")(spark, sf)
      .collect()(0).getLong(0)
    assert(n > 0 && n <= 6000)
  }
}
