package graft

import org.apache.spark.sql.functions._

/** Scratch profiler: stage-by-stage timings of the suffix-LCP family
  * (q157/q160) under bench conditions, two passes. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profile] $name%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    for (pass <- 1 to 2) {
      println(s"=== pass $pass ===")
      timed("adjacentLcp alone") {
        noop(graft.operators.SuffixArray.adjacentLcp(docs))
      }
      timed("wins explode only (no sort)") {
        noop(docs.select(col("doc_id"), split(col("text"), "\\s+").as("w"))
          .select(col("doc_id"), col("w"),
            posexplode(col("w")).as(Seq("pos", "word")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            slice(col("w"), col("pos") + 1, lit(31)).as("win")))
      }
      timed("full q160 phraseContam") {
        noop(graft.operators.SuffixArray
          .phraseContam(docs, col("doc_id") % 17 === 0)
          .orderBy("doc_id"))
      }
      timed("full q157 lrsPerDoc") {
        noop(graft.operators.SuffixArray.lrsPerDoc(docs)
          .orderBy("doc_id"))
      }
    }
    spark.stop()
  }
}
