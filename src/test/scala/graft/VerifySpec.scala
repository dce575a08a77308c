package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** A query that throws must not vanish into stderr: [[Verify.run]] keeps
  * dumping the other queries, lists the failure in failures.json and
  * still writes oracle_sql.json and verify_env.json, so its caller can
  * exit non-zero with the full artifact on disk. */
class VerifySpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  test("a throwing query is recorded in failures.json and the run goes on") {
    val out = Files.createTempDirectory("graft_verify_spec").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "boom" -> ((_, _) => throw new IllegalStateException("deliberate \"failure\"")),
      "ok" -> ((s, _) => s.range(3).toDF("x")))
    val failures = Verify.run(spark, "/root/testdata/sf0.001", out, queries)
    assert(failures.map(_._1) == Seq("boom"))
    val json = new ObjectMapper().readTree(Paths.get(out, "failures.json").toFile)
    assert(json.size == 1)
    assert(json.get("boom").asText.contains("deliberate \"failure\""))
    assert(spark.read.parquet(s"$out/ok").count() == 3)
    assert(!Files.exists(Paths.get(out, "boom")))
    val oracles = new ObjectMapper().readTree(Paths.get(out, "oracle_sql.json").toFile)
    assert(oracles.size == SparkEntry.oracleSql.size)
    assert(Files.exists(Paths.get(out, "verify_env.json")))
  }

  test("a clean run writes an empty failures.json") {
    val out = Files.createTempDirectory("graft_verify_spec").toString
    assert(Verify.run(spark, "/root/testdata/sf0.001", out,
      Seq("ok" -> ((s: SparkSession, _: String) => s.range(1).toDF("x")))).isEmpty)
    assert(new String(Files.readAllBytes(Paths.get(out, "failures.json"))) == "{}")
  }
}
