package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The correctness dump fails loudly: a query that throws is reported by
  * name, and every other query's output and `oracle_sql.json` are still
  * written. */
class VerifySpec extends AnyFunSuite {

  test("Verify.dump reports each throwing query and still writes the rest") {
    val spark = TestSpark.spark
    val out = Files.createTempDirectory("graft-verify-").toString
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(3).toDF("id")),
      // fails while the frame is built, and while the write runs
      "throws_on_build" -> ((_, _) => throw new IllegalStateException("injected")),
      "throws_on_write" -> ((s, _) => s.range(1).select(raise_error(lit("injected")))))
    val failed = Verify.dump(spark, TestSpark.Sf0001, out, queries)
    assert(failed == Seq("throws_on_build", "throws_on_write"))
    assert(spark.read.parquet(s"$out/ok").count() == 3)
    val oracle = new String(Files.readAllBytes(Paths.get(s"$out/oracle_sql.json")))
    assert(SparkEntry.oracleSql.keys.forall(k => oracle.contains(s"\"$k\"")))
  }
}
