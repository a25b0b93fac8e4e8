package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the analysis-time error contracts of the vector kernels and the
  * literal-argument kernel constructors (round-6 advisory): each bad input
  * must fail AT ANALYSIS with a message naming the actual problem — not
  * NPE at plan build, not a Janino failure that silently drops the stage
  * to interpreted evaluation. */
class VecExprErrorSpec extends SparkSpec {
  private def df = {
    GraftFunctions.register(spark)
    spark.range(1).selectExpr(
      "array(1.0D, 2.0D) AS v",
      "array(CAST(1.5 AS DECIMAL(10, 2)), CAST(2.5 AS DECIMAL(10, 2))) AS dec",
      "array('a', 'b', 'c') AS w",
      "CAST(id AS INT) + 3 AS nonfold")
  }

  test("vec_dot / vec_sqdist reject decimal element arrays at analysis") {
    Seq("vec_dot", "vec_sqdist").foreach { fn =>
      val e = intercept[AnalysisException] {
        df.selectExpr(s"$fn(v, dec)").collect()
      }
      assert(e.getMessage.contains("non-decimal"), s"$fn: ${e.getMessage}")
      // and the documented remedy works: cast to double
      val ok = df.selectExpr(
        s"$fn(v, transform(dec, x -> CAST(x AS DOUBLE))) AS r").head().getDouble(0)
      assert(!ok.isNaN)
    }
  }

  test("shingle_sids/word_ids: NULL literal second arg is a parameter error, not an NPE") {
    Seq("shingle_sids_md5(w, NULL)", "word_ids_md5(w, NULL)").foreach { call =>
      val e = intercept[AnalysisException] { df.selectExpr(call).collect() }
      assert(e.getCondition == "INVALID_PARAMETER_VALUE.NULL",
        s"$call -> ${e.getCondition}: ${e.getMessage}")
    }
  }

  test("shingle_sids/word_ids: non-foldable second arg names the foldability requirement") {
    Seq("shingle_sids_md5(w, nonfold)", "word_ids_md5(w, string(nonfold))")
      .foreach { call =>
        val e = intercept[AnalysisException] { df.selectExpr(call).collect() }
        assert(e.getCondition == "NON_FOLDABLE_ARGUMENT",
          s"$call -> ${e.getCondition}: ${e.getMessage}")
      }
  }

  test("Lsh.sizing on an empty corpus fails with a message naming the corpus") {
    val empty = spark.range(0).selectExpr("array(1.0D) AS embedding")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Lsh.sizing(spark, "/tmp/none", "empty-corpus-spec", empty)
    }
    assert(e.getMessage.contains("empty-corpus-spec") &&
      e.getMessage.contains("empty"))
  }
}
