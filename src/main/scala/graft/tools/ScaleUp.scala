package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor from an existing one for SCALING.md
  * measurements: `runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>`.
  *
  * Each replica i of the fact tables offsets every entity key by
  * i·10⁷, so referential integrity holds (each replica is a
  * self-contained shard of customers/orders/parts/suppliers, sharing
  * the fixed nation/region dims) and key distributions are preserved —
  * the same construction a TPC-H dbgen scale-up produces. Document
  * texts get a per-replica word suffix: within-replica duplicate
  * structure is preserved exactly while replicas stay textually
  * disjoint, so a 10× corpus has 10× the LSH buckets at the SAME bucket
  * sizes (a plain copy would instead multiply every duplicate cluster —
  * a pathological, unrepresentative corpus). Document ids stride
  * compactly (max(doc_id)+1 per replica) so the 999999 plant-offset
  * corpus contract keeps holding and the dedup/plant family stays
  * oracle-checkable at synthesized SFs (round 14). Embedding vectors
  * get a per-replica deterministic rotation of the label/id space only.
  */
object ScaleUp {
  private val Off = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(src, dst, f) = args.take(3)
    val factor = f.toInt
    val spark = graft.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    // events.ts physical layout varies by testdata generation (int64
    // nanos or timestamp[us]); copy it through untouched — Tables
    // normalizes at query time whatever the layout (nanosAsLong makes
    // the nanos variant readable; a no-op otherwise).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def tbl(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    def write(df: DataFrame, n: String): Unit =
      df.coalesce(8).write.mode("overwrite").parquet(s"$dst/$n.parquet")

    def replicate(df: DataFrame, keyCols: Seq[String],
        saltText: Boolean = false, stride: Long = Off): DataFrame =
      (0 until factor).map { i =>
        val shifted = keyCols.foldLeft(df)((acc, k) =>
          acc.withColumn(k, col(k) + lit(i * stride)))
        if (saltText && i > 0)
          shifted.withColumn("text",
            array_join(transform(split(col("text"), " "),
              w => concat(w, lit(s"~$i"))), " "))
        else shifted
      }.reduce(_ unionByName _)

    // fixed dims copied once
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(replicate(tbl("customer"), Seq("c_custkey")), "customer")
    write(replicate(tbl("supplier"), Seq("s_suppkey")), "supplier")
    write(replicate(tbl("part"), Seq("p_partkey")), "part")
    write(replicate(tbl("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    write(replicate(tbl("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(tbl("events"), Seq("event_id", "user_id")), "events")
    // documents replicate at a COMPACT stride (max(doc_id)+1), not the
    // 10⁷ entity offset: every plant-bearing and id-threshold-split
    // oracle rests on the corpus contract max(doc_id) < 999999 (the
    // smallest plant offset, TablesLayoutSpec's premise), and 10⁷-strided
    // ids breach it by construction — which is why the dedup family had
    // to be excluded from synthesized-SF parity before round 14. Compact
    // ids hold the premise to factor ~200 at sf0.1 and keep every
    // doc_id % k selector distribution intact; the fail-loud backstop
    // below names the premise if a giant source corpus ever breaks it.
    val docs = tbl("documents")
    val docStride = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    require(docStride * factor < 999999L,
      s"ScaleUp: $factor x docStride=$docStride breaches the 999999 " +
        "plant-offset corpus contract (TablesLayoutSpec) — plant-bearing " +
        "oracles would misclassify id-threshold splits")
    write(replicate(docs, Seq("doc_id"), saltText = true,
      stride = docStride), "documents")
    write(replicate(tbl("embeddings"), Seq("vec_id")), "embeddings")
    println(s"scaled $src x$factor -> $dst")
    spark.stop()
  }
}
