package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ExplainFmt.normalise

/** ExplainFmt's masks over fixed plan text: two runs of one plan
  * normalise to the same text, two different plans do not. */
class ExplainFmtSpec extends AnyFunSuite {
  private def sameAfter(a: String, b: String): Unit = {
    assert(a != b)
    assert(normalise(a) == normalise(b))
  }

  test("expression ids, lambda variables and plan ids are masked") {
    sameAfter("Output [2]: [doc_id#2394L, x_45#123]  plan_id=67",
      "Output [2]: [doc_id#10L, x_7#11]  plan_id=3")
  }

  test("a checkpoint scan's RDD id and call site are masked") {
    sameAfter(
      "Arguments: [doc_id#2394L, pos#2413], MapPartitionsRDD[967] at " +
        "localCheckpoint at Dedup.scala:1055, ExistingRDD, " +
        "UnknownPartitioning(0)",
      "Arguments: [doc_id#12L, pos#31], MapPartitionsRDD[1203] at " +
        "localCheckpoint at Tables.scala:88, ExistingRDD, " +
        "UnknownPartitioning(0)")
  }

  test("object hashes and JVM lambda class names are masked") {
    sameAfter(
      "posexplode(transform(org.apache.spark.sql.catalyst.expressions." +
        "UnsafeArrayData@c39e56ca, lambdafunction(b#842)))",
      "posexplode(transform(org.apache.spark.sql.catalyst.expressions." +
        "UnsafeArrayData@582dcbb3, lambdafunction(b#852)))")
    sameAfter(
      "Catalog: graft.sources.DocstoreCatalog@1a2b3c4d, " +
        "f = graft.operators.Similarity$$$Lambda$1712/0x0000000801a3c000@5f2a1b3c",
      "Catalog: graft.sources.DocstoreCatalog@77aa11, " +
        "f = graft.operators.Similarity$$$Lambda$1803/0x0000000801b4d000@e0e0e0e")
  }

  test("a scratch collection's per-JVM nonce is dropped from its path") {
    sameAfter(
      "Location: /tmp/graft_docstore/st20_view__root_testdata_sf0_01_" +
        "3e8f_9a7b6c5d4e3f2a1b, ReadSchema: struct<user_id:bigint>",
      "Location: /tmp/graft_docstore/st20_view__root_testdata_sf0_01_" +
        "41c2_f1e2d3c4b5a69788, ReadSchema: struct<user_id:bigint>")
    assert(normalise(
      "/tmp/graft_docstore/merge_d15__root_testdata_sf0_01_3e8f_9a7b6c5d4e3f2a1b")
      == "/tmp/graft_docstore/merge_d15__root_testdata_sf0_01")
  }

  test("a real plan difference survives the masks") {
    for ((a, b) <- Seq(
        "+- BroadcastHashJoin Inner BuildRight (12)" ->
          "+- SortMergeJoin Inner (12)",
        "MapPartitionsRDD[967] at localCheckpoint at Dedup.scala:1055" ->
          "MapPartitionsRDD[967] at repartition at Dedup.scala:1055",
        "Location: /tmp/graft_docstore/sf0.01/s02_ivf_cells_v2_0123456789abcdef" ->
          "Location: /tmp/graft_docstore/sf0.01/s02_ivf_cells_v2_fedcba9876543210",
        "Arguments: 8, [c_id#3L ASC NULLS FIRST]" ->
          "Arguments: 12, [c_id#3L ASC NULLS FIRST]"))
      assert(normalise(a) != normalise(b), a)
  }
}
