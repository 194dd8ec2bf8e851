package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Query, QueryKit}

/** The query registry on its own: one declaration per query, each with an
  * oracle, unique names and `qNN` prefixes. Needs no Spark session. */
class QueryRegistrySpec extends AnyFunSuite {

  private val declared = SparkEntry.registry.values.toSeq

  test("322 queries are declared") {
    assert(declared.size === 322)
  }

  test("names and qNN prefixes are unique") {
    assert(declared.map(_.name).distinct.size === declared.size)
    val prefixes = declared.map(q => Query.prefix(q.name))
    assert(prefixes.forall(_.matches("q\\d+")))
    assert(prefixes.distinct.size === declared.size)
  }

  test("every oracle is non-blank") {
    assert(declared.filter(_.oracle.trim.isEmpty).map(_.name) === Nil)
  }

  test("queries and oracleSql share one key set") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === SparkEntry.registry.keySet)
  }

  test("a repeated name or qNN prefix throws") {
    val body: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException] {
      Query.index(Seq(Query("q1_a", "SELECT 1", body), Query("q1_a", "SELECT 2", body)))
    }
    assert(e.getMessage.contains("q1_a"))
    intercept[IllegalArgumentException] {
      Query.index(Seq(Query("q1_a", "SELECT 1", body), Query("q1_b", "SELECT 1", body)))
    }
    intercept[IllegalArgumentException] {
      Query.index(Seq(Query("q1_a", " ", body)))
    }
  }

  test("index table names are stable: existing warehouses are found by name") {
    val dir = "testdata/sf0.01"
    assert(QueryKit.lshIndexTable(dir) === "graft_lsh_idx_15d7d44e7a473cfe2b79b6d016e13ef2")
    assert(QueryKit.ivfIndexTable(dir) === "graft_ivf_idx_15d7d44e7a473cfe2b79b6d016e13ef2")
    assert(QueryKit.pqIndexTable(dir) === "graft_pq_idx_15d7d44e7a473cfe2b79b6d016e13ef2")
  }
}
