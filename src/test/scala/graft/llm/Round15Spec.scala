package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-15 pins: the capped bigram LM (x59b — the x59 vocab-growth fix)
  * and the sql4/sql5 SQL-text hash-expression gates. */
class Round15Spec extends SparkSpec {

  test("cappedBigramLm: planted fixture — exact (count desc, df desc, bigram asc) top-V") {
    import spark.implicits._
    // bigram counts: "a b" ×3 (docs 1,2), "b a" ×2 (docs 1,3), "b c" ×2
    // (docs 1,2), "c d" ×1 — top-3: "a b" (count 3), then the count-2/df-2
    // TIE between "b a" and "b c" falls to the bigram-asc tiebreak
    // ("b a" < "b c"), and "c d" is cut; "x y" ×2 all in doc 4 (df 1)
    // ranks BELOW both df-2 bigrams — the df leg of the order
    val docs = Seq(
      (1L, "a b a b c d"),      // bigrams: a b, b a, a b, b c, c d
      (2L, "a b c"),            // bigrams: a b, b c
      (3L, "b a"),              // bigram:  b a
      (4L, "x y x y")           // bigrams: x y, y x, x y (x y df=1)
    ).toDF("doc_id", "text")
    val got = TextStats.cappedBigramLm(docs, topV = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // ppm: "a b": w1=a → c_uni(a) = 3 → 3*1e6/3 = 1e6
    //      "b a"/"b c": w1=b → c_uni(b) = 4 → 2*1e6/4 = 5e5
    val want = Seq(("a b", 1000000L), ("b a", 500000L), ("b c", 500000L))
    assert(got == want, s"capped selection diverged: $got")
    // df tiebreak: with V=4 the df-1 "x y" (count 2) must rank AFTER the
    // two df-2 count-2 bigrams and ahead of the count-1 tail
    val got4 = TextStats.cappedBigramLm(docs, topV = 4)
      .collect().map(_.getString(0)).toSeq
    assert(got4 == Seq("a b", "b a", "b c", "x y"),
      s"df tiebreak diverged: $got4")
  }

  test("cappedBigramLm: top-50 at sfDir equals an independent brute-force ranking") {
    // independent twin: count bigrams in plain Scala over the collected
    // corpus (sf0.001 is tiny), rank by the documented total order
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val perDoc = rows.flatMap { case (id, text) =>
      val t = text.split(" ")
      t.dropRight(1).zip(t.drop(1)).map { case (a, b) => (id, a, s"$a $b") }
    }
    val cBig = perDoc.groupBy(x => (x._2, x._3)).map { case ((w1, bg), xs) =>
      (w1, bg, xs.length.toLong, xs.map(_._1).distinct.length.toLong)
    }.toSeq
    val cUni = perDoc.groupBy(_._2).map { case (w1, xs) => w1 -> xs.length.toLong }
    val ranked = cBig.map { case (w1, bg, c, df) =>
      (bg, c, df, c * 1000000L / cUni(w1))
    }.sortBy { case (bg, c, df, _) => (-c, -df, bg) }
    assert(ranked.size > 50, s"fixture degenerate: vocab ${ranked.size} ≤ 50")
    val want = ranked.take(50).map(x => (x._1, x._4)).toSeq
    val got = TextStats.cappedBigramLm(docs, topV = 50)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, s"top-50 diverged from brute force: " +
      s"got-head=${got.take(3)} want-head=${want.take(3)}")
  }

  test("x59b: the cap BINDS at gate scale and verdicts follow the capped-LM contract") {
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val vocab = TextStats.cappedBigramLm(docs, topV = Int.MaxValue).count()
    val capped = TextStats.cappedBigramLm(docs, topV = 500).count()
    // at sf0.001 the corpus vocab must exceed the 500 cap, else the gate
    // would be testing dead code (the fixed template vocabulary is 916 at sf0.001 AND sf0.01; only the rehearsal decorrelation grows it)
    assert(vocab > 500 && capped == 500,
      s"cap not binding: vocab=$vocab capped=$capped")
    val out = TextStats.filterEnsembleCapped(spark, sfDir)
    assert(out.count() == docs.count(), "one verdict row per doc")
    // votes arithmetic internally consistent
    assert(out.filter(col("votes") =!=
      col("v_q") + col("v_lm") + col("v_clf")).count() == 0)
    assert(out.filter((col("votes") >= 2) =!= (col("verdict") === "keep"))
      .count() == 0)
  }

  test("sql4: graft_minhash invariants hold from SQL text; md5 columns match a Scala twin") {
    val out = graft.queries.SqlText.gate(spark, sfDir,
      graft.queries.SqlText.minhashTextSparkSql).cache()
    try {
      val n = graft.Tables.documents(spark, sfDir).count()
      assert(out.count() == n)
      assert(out.filter(!col("perm_invariant") || !col("dedup_invariant"))
        .count() == 0, "a MinHash set-reduce invariant failed")
      // min_h twin: min over md5-long token hashes, computed DataFrame-side
      val want = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .select(col("doc_id"),
          (conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10)
            .cast("long") % 2147483647L).as("h"))
        .groupBy("doc_id").agg(min("h").as("min_h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val got = out.select("doc_id", "min_h")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, "sql4 min_h diverged from the DataFrame twin")
    } finally { out.unpersist(); () }
  }

  test("sql5: graft_simhash over md5 token hashes from SQL text == the x4b witness rows") {
    val got = graft.queries.SqlText.gate(spark, sfDir,
      graft.queries.SqlText.simhashTextSparkSql)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // cross-IMPLEMENTATION twin: the per-bit vote aggregate
    // (SimhashVoteTwin) vs the codegen'd graft_simhash expression — two
    // independent constructions of the same 16-bit fingerprint. x4b itself
    // runs graft_simhash's kernel, so it cannot serve as the twin.
    val want = SimhashVoteTwin(graft.Tables.documents(spark, sfDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, s"sql5 fingerprints diverged from the x4b twin: " +
      s"${(got.toSet -- want.toSet).take(3)}")
  }
}
