package graft

import org.apache.spark.sql.functions._

import graft.functions.{UnigramSegment, WordpieceEncode}

/** Unigram-LM DP segmentation — objective, tie-breaks, the greedy/global
  * divergence, and the long-word fallback. */
class UnigramSpec extends SparkSuite {
  import spark.implicits._

  private def seg(word: String, vocab: Seq[(String, Long)]): (Long, Long) = {
    val r = Seq(word).toDF("w")
      .select(UnigramSegment($"w", vocab).as("s"))
      .select($"s.n_pieces", $"s.freq_sum").collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  test("global DP succeeds where greedy longest-match dead-ends") {
    // vocab {a, aa, ab}: greedy on "aab" takes "aa", strands "b" → [UNK];
    // the DP finds a·ab
    val vocab = Seq(("a", 10L), ("aa", 5L), ("ab", 3L))
    assert(seg("aab", vocab) == (2L, 13L))
    val wp = Seq("aab").toDF("w")
      .select(WordpieceEncode($"w", vocab.map(_._1)).as("p"))
      .collect()(0).getSeq[String](0)
    assert(wp == Seq(WordpieceEncode.Unk), "greedy verdict differs")
  }

  test("fewest pieces wins before frequency") {
    // "abc" as abc (1 piece, f=1) beats a·bc (2 pieces, f=100+100)
    val vocab = Seq(("a", 100L), ("bc", 100L), ("abc", 1L),
      ("b", 1L), ("c", 1L))
    assert(seg("abc", vocab) == (1L, 1L))
  }

  test("among equal piece counts the max total frequency wins") {
    // ab·c (5+2=7) vs a·bc (3+9=12): both 2 pieces → 12
    val vocab = Seq(("ab", 5L), ("c", 2L), ("a", 3L), ("bc", 9L))
    assert(seg("abc", vocab) == (2L, 12L))
  }

  test("unsegmentable word returns the (-1, 0) sentinel; empty word (0, 0)") {
    val vocab = Seq(("a", 1L))
    assert(seg("ax", vocab) == (-1L, 0L))
    assert(seg("", vocab) == (0L, 0L))
  }

  test("words beyond MaxDp character-split with unseen chars at weight 0") {
    val vocab = Seq(("a", 7L), ("ab", 100L)) // 'b' itself unseen
    val w = "ab" * 7 // 14 chars > MaxDp = 12
    assert(w.length > UnigramSegment.MaxDp)
    assert(seg(w, vocab) == (14L, 49L)) // 7 a's at 7, 7 b's at 0
  }

  test("DP == brute-force enumeration on random words and vocabularies") {
    val rnd = new scala.util.Random(136)
    def allSegs(w: String, v: Map[String, Long]): Seq[(Long, Long)] =
      if (w.isEmpty) Seq((0L, 0L))
      else (1 to w.length).flatMap { l =>
        val p = w.take(l)
        if (v.contains(p))
          allSegs(w.drop(l), v).map { case (c, f) => (c + 1, f + v(p)) }
        else Seq.empty
      }
    (1 to 60).foreach { _ =>
      val letters = "abc"
      val pieces = (1 to 6).map(_ =>
        (1 to (1 + rnd.nextInt(3))).map(_ => letters(rnd.nextInt(3))).mkString)
        .distinct.map(p => p -> (1L + rnd.nextInt(20))).toMap
      val word = (1 to (1 + rnd.nextInt(8)))
        .map(_ => letters(rnd.nextInt(3))).mkString
      val expect = {
        val all = allSegs(word, pieces)
        if (all.isEmpty) (-1L, 0L)
        else all.minBy { case (c, f) => (c, -f) }
      }
      assert(seg(word, pieces.toSeq.sorted) == expect,
        s"word=$word vocab=$pieces")
    }
  }

  test("unigram_segment on the SQL surface") {
    val r = spark.sql(
      "SELECT unigram_segment('abc', array('a','bc','abc'), " +
        "array(3L, 9L, 1L)).n_pieces AS np").collect()(0).getLong(0)
    assert(r == 1L)
  }

  test("unigram_segment SQL surface: INT freq literals accepted (no L suffix)") {
    // array(3, 9, 1) arrives as array<int>; the builder must read it by
    // its declared element type, not getLong into a ClassCastException
    val int = spark.sql("SELECT unigram_segment('abc', array('a','bc','abc'), " +
      "array(3, 9, 1)) AS s").collect()(0).get(0)
    val big = spark.sql("SELECT unigram_segment('abc', array('a','bc','abc'), " +
      "array(3L, 9L, 1L)) AS s").collect()(0).get(0)
    assert(int == big)
  }

  test("unigram_segment SQL surface: non-literal vocab fails analysis clearly") {
    val e = intercept[Exception] {
      spark.sql("SELECT unigram_segment(w, array('a'), array(length(w))) " +
        "FROM VALUES ('x') t(w)").collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT unigram_segment('x', array('a','b'), array(1L))").collect()
    }
    assert(e2.getMessage.contains("same length"), e2.getMessage)
  }
}
