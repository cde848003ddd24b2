package graft.tools
import org.apache.spark.sql.functions._
/** Scratch A/B: native HashedShingles expression vs its UDF twin over the
  * documents table (explode + count drains the arrays without collect). */
object ShingleBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("8")
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text").cache()
    docs.count()
    def drain(c: org.apache.spark.sql.Column): Long =
      docs.select(explode(c).as("g")).agg(count(lit(1))).head().getLong(0)
    for (round <- 1 to 3) {
      var t0 = System.nanoTime()
      val a = drain(graft.ops.Dedup.hashedShinglesCol(col("text"), 3))
      val tn = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val b = drain(graft.ops.Dedup.hashedShinglesUdf(3)(col("text")))
      val tu = (System.nanoTime() - t0) / 1e9
      println(f"[shingle] round$round native=$tn%.3f s udf=$tu%.3f s (rows agree: ${a == b})")
    }
    spark.stop()
  }
}
