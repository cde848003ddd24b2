package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Every native expression of `graft.functions` gives the same rows
  * interpreted (its `nullSafeEval`) as generated (its `doGenCode`). The
  * streaming curator runs its batches interpreted
  * (`MediaStreamingCurator.interpreted`); `KernelProperties` compares
  * the kernels with their UDF twins only under codegen. Each case runs
  * on a `newSession()` child with the curator's two confs and on the
  * parent session, over the same parquet input (a local relation would
  * be folded by the optimizer, interpreted on both sides). */
class InterpretedKernelSpec extends SparkSpec {

  private lazy val interpretedSession: SparkSession = {
    val child = spark.newSession()
    graft.streaming.MediaStreamingCurator.interpreted(child)
    child
  }

  private val texts: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog and it is a fine day",
    "it was the best of times and it was the worst of times for all",
    "le chat est sur la table et il dort dans la maison de la famille",
    "der Hund und die Katze sind in dem Haus mit dem Garten",
    "İstanbul straße 中文 mixed ß casing TOKENS tokens",
    "two words", "one", "", "@@@ ### $$$", null)

  private lazy val input: String = {
    val rnd = new scala.util.Random(7)
    val rows = texts.zipWithIndex.map { case (t, i) =>
      val vec = if (i == texts.size - 1) null else Seq.fill(24)(rnd.nextGaussian().toFloat)
      val other = if (i == 3) null else Seq.fill(24)(rnd.nextGaussian().toFloat)
      (i.toLong, t, vec, other)
    } :+ ((texts.size.toLong, "zero", Seq.fill(24)(0f), Seq.fill(24)(1f)))
    val dir = java.nio.file.Files.createTempDirectory("graft-interp").resolve("t").toString
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("id", "text", "vec", "other").write.parquet(dir)
    dir
  }

  private def sig(text: Column): Column =
    MinhashOph.minhash_oph(HashedShingles.hashed_shingles(text, 3), 64)

  private val cases: Seq[(String, Column)] = Seq(
    "HashedShingles" -> HashedShingles.hashed_shingles(col("text"), 3),
    "MinhashOph" -> sig(col("text")),
    "BandKeys" -> BandKeys.band_keys(sig(col("text")), 64, 16),
    "SigAgreement" -> SigAgreement.sig_agreement(sig(col("text")), sig(upper(col("text")))),
    "HyperplaneSig" -> HyperplaneSig.hyperplane_sig(col("vec"), 32),
    "SimHash64" -> SimHash64.simhash64(col("text")),
    "CosineSimilarity" -> GraftFunctions.cosine_native(col("vec"), col("other")),
    "PositionalGrams" -> PositionalGrams.positional_grams(col("text"), 2),
    "LangId" -> LangId.lang_id(col("text")))

  private def frame(session: SparkSession, c: Column): DataFrame =
    session.read.parquet(input).select(col("id"), c.as("v"))

  private def rows(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getLong(0)).toSeq

  private def generated(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])

  for ((name, c) <- cases)
    test(s"$name: interpreted eval === generated code") {
      val gen = frame(spark, c)
      val interp = frame(interpretedSession, c)
      assert(generated(gen), s"the parent session must generate code:\n${gen.queryExecution.executedPlan}")
      assert(!generated(interp),
        s"the interpreted session must not generate code:\n${interp.queryExecution.executedPlan}")
      val (a, b) = (rows(gen), rows(interp))
      assert(a.size === texts.size + 1)
      assert(a === b)
    }
}
