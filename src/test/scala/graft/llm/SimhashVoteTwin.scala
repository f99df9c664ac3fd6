package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The md5 SimHash as the per-bit vote aggregate: explode each doc's
  * tokens, hash each token once (first 60 bits of md5(token ‖ salt)), and
  * sum the ±1 votes of every bit per doc. An independent construction of
  * the fingerprint `DocDedup.simhashMd5Kernel` computes per row; a null
  * text explodes to no tokens and gives no row. */
object SimhashVoteTwin {
  def apply(docs: DataFrame, bits: Int = 16, salt: String = ""): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"),
        conv(substring(md5(concat(col("t"), lit(salt)).cast("binary")), 1, 15), 16, 10)
          .cast("long").as("h"))
    val fp = (0 until bits).map { i =>
      val vote = sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashed.groupBy("doc_id").agg(fp.as("simhash16"))
  }
}
