package graft.llm

import graft.SparkSpec
import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `DocDedup.simhashMd5Kernel`, the per-row md5 SimHash behind x4b, x4c,
  * x4d_md5, x35 and e15, against the per-bit vote aggregate
  * (`SimhashVoteTwin`) on both x4d token streams, at 8 and 16 bits. */
class SimhashKernelSpec extends SparkSpec {

  private val salt = "#h2"

  private def fingerprints(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Every comparison over one (doc_id, text) frame. */
  private def assertKernelMatchesVotes(docs: DataFrame): Unit = {
    for (bits <- Seq(8, 16)) {
      val plain = fingerprints(SimhashVoteTwin(docs, bits))
      assert(fingerprints(DocDedup.simhashMd5Of(docs, bits)) == plain, s"bits=$bits")
      val salted = docs.filter(col("text").isNotNull).select(col("doc_id"),
        DocDedup.simhashMd5Kernel(
          transform(split(col("text"), " "), t => concat(t, lit(salt))), bits))
      assert(fingerprints(salted) == fingerprints(SimhashVoteTwin(docs, bits, salt)),
        s"salted stream, bits=$bits")
    }
    val lo = fingerprints(SimhashVoteTwin(docs))
    val hi = fingerprints(SimhashVoteTwin(docs, salt = salt))
    val twoStream = DocDedup.simhash2x16Md5Of(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(twoStream == lo.map { case (id, l) => id -> (l, hi(id)) }, "x4d two-stream")
  }

  test("kernel equals the vote aggregate on edge-case and random texts") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // spaces weighted so runs of them (empty tokens) are common
    val alphabet = "ab  cé日 éz"
    val random = (0 until 300).map { i =>
      (100L + i, Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val docs = (Seq(
      (1L, ""),                         // one empty token
      (2L, "token"),                    // a single token
      (3L, "dup dup dup dup"),          // repeated tokens
      (4L, "dup dup other"),            // a repeated token outvotes one
      (5L, "tie tied"),                 // two tokens: any split bit ties at 0
      (6L, "a  b   c "),                // runs of spaces: empty tokens vote
      (7L, " "),                        // two empty tokens
      (8L, "héllo wörld 日本語 ✓ naïve"),  // non-ASCII
      (9L, null)                        // no row on either side
    ) ++ random).toDF("doc_id", "text")
    assert(SimhashVoteTwin(docs).filter(col("doc_id") === 9L).isEmpty)
    assert(DocDedup.simhashMd5Of(docs).filter(col("doc_id") === 9L).isEmpty)
    assertKernelMatchesVotes(docs)
  }

  test("kernel equals the vote aggregate on the sf0.01 and sf0.001 corpora") {
    for (dir <- Seq(sfDir, Paths.get(sfDir).resolveSibling("sf0.01").toString))
      assertKernelMatchesVotes(graft.Tables.documents(spark, dir).select("doc_id", "text"))
  }

  test("kernel width is bounded by the 60-bit token hash") {
    val tokens = split(lit("a b"), " ")
    for (bits <- Seq(0, 61))
      assertThrows[IllegalArgumentException](DocDedup.simhashMd5Kernel(tokens, bits))
    // the widest mask keeps every token-hash bit and nothing above it
    val widest = spark.range(1).select(DocDedup.simhashMd5Kernel(tokens, 60)).head().getLong(0)
    assert(widest >>> 60 == 0L)
  }
}
