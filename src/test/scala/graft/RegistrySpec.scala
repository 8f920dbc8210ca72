package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.registry.Registry

class RegistrySpec extends AnyFunSuite {

  test("a registry with a duplicate query name fails when it is built") {
    // a Map literal would silently keep the last duplicate and drop a
    // query; the registry is a sequence, so it must refuse instead
    val q1 = Registry("q1_agg")
    val e = intercept[IllegalArgumentException](
      Registry.unique(Seq(q1, Registry("s1_scan_project"), q1)))
    assert(e.getMessage.contains("duplicate query names: q1_agg"))
    assert(Registry.unique(Registry.all) == Registry.all)
    assert(Registry.all.size == 117)
  }

  test("SPARK_GRAFT_QUERIES rejects a name that matches no entry") {
    assert(SparkEntry.querySubset(None).isEmpty)
    // registry queries and Bench's streaming entries are both valid
    assert(SparkEntry.querySubset(Some(" q1_agg, e4_stream_rollup ,")) ==
      Some(Set("q1_agg", "e4_stream_rollup")))
    // a typo must fail loudly, naming the bad name: dropping it would
    // leave Verify dumping nothing and Bench sweeping an empty list
    val e = intercept[IllegalArgumentException](
      SparkEntry.querySubset(Some("q1_agg,q1_aggg")))
    assert(e.getMessage.contains("unknown entries: q1_aggg"))
  }
}
