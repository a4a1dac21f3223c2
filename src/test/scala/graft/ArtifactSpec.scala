package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Derived artifacts through [[Graft.artifact]]: exact types, empty
  * artifacts, and the cluster keys over a corpus with no near-dups. */
class ArtifactSpec extends SparkSpec {

  /** A fresh testdata dir; its artifacts live under `docsRoot(dir)`. */
  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_artifact_spec")
    try body(dir.toString)
    finally Seq(dir, java.nio.file.Paths.get(
        operators.DocstoreOps.docsRoot(dir.toString))).foreach { p =>
      if (java.nio.file.Files.exists(p))
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    }
  }

  test("artifact round-trips exact types; an empty artifact keeps its " +
      "schema; a committed artifact is served without a rebuild") {
    withDir { dir =>
      val typed = Graft.artifact(spark, dir, "typed_v1", "documents") {
        spark.range(3).select(col("id").cast(IntegerType).as("label"),
          array(col("id").cast(FloatType), lit(0.1f)).as("emb"))
      }
      assert(typed.schema.map(f => f.name -> (f.dataType match {
          case ArrayType(t, _) => ArrayType(t)
          case t => t
        })) == Seq("label" -> IntegerType, "emb" -> ArrayType(FloatType)),
        typed.schema.treeString)
      assert(typed.orderBy("label").collect().map(r =>
        (r.getInt(0), r.getSeq[Float](1))).toSeq ==
        (0 until 3).map(i => (i, Seq(i.toFloat, 0.1f))))

      val empty = Graft.artifact(spark, dir, "empty_v1", "documents") {
        spark.range(0).select(col("id").as("id_a"), col("id").as("id_b"))
      }
      assert(empty.schema.map(f => f.name -> f.dataType) ==
        Seq("id_a" -> LongType, "id_b" -> LongType), empty.schema.treeString)
      assert(empty.select(col("id_a")).count() == 0)

      val again = Graft.artifact(spark, dir, "typed_v1", "documents") {
        throw new AssertionError("a committed artifact was rebuilt")
      }
      assert(again.count() == 3)
    }
  }

  test("dd06 and p08 run over a corpus with no near-dup pair (an empty " +
      "dd04 pair artifact): every document is its own cluster") {
    withDir { dir =>
      // ids not divisible by 10 get no planted copy; disjoint
      // vocabularies give no Jaccard pair at all
      val ids = (1L to 9L)
      spark.createDataFrame(ids.map { i =>
        val text = (0 until 12).map(j => s"w${i}x$j").mkString(" ")
        (i, text, "en", s"src${i % 3}", text.length.toLong)
      }).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      val dd06 = SparkEntry.queries("dd06_dedup_clusters")(spark, dir).collect()
      assert(dd06.map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))).toSeq
        .sorted == ids.map(i => (i, i, 1L)))
      val p08 = SparkEntry.queries("p08_leak_safe_split")(spark, dir).collect()
      assert(p08.map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cluster_id"))).toSeq == ids.map(i => (i, i)))
    }
  }
}
