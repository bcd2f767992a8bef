package graft.ml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tables.Tables

class UnigramSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def words() =
    Unigram.boundedWords(
      Bpe.wordCounts(Tables.documents(spark, sf), "text"))

  private def pieces() =
    Unigram.ensurePieces(spark, words(),
      Seq(sf, Tables.stamp(spark, sf, "documents")))

  test("vocabulary contains every character; costs have the penalty floor") {
    val ps = pieces()
    assert(ps.nonEmpty)
    val set = ps.map(_.piece).toSet
    import spark.implicits._
    val chars = words().select("word").as[String].collect()
      .flatMap(_.toSeq).map(_.toString).toSet
    assert(chars.subsetOf(set), s"missing chars: ${(chars -- set).take(5)}")
    ps.foreach(p => assert(p.cost >= Unigram.PiecePenalty + 1,
      s"cost below floor: $p"))
    assert(ps.exists(_.piece.length > 1),
      "relative thresholds must admit some multi-char pieces")
  }

  test("packed DP value matches an independent exhaustive enumeration") {
    val ps = pieces()
    val costs = ps.map(p => p.piece -> p.cost).toMap
    // brute force: enumerate ALL segmentations (pieces up to len 3)
    def best(s: String): Long = {
      if (s.isEmpty) 0L
      else (1 to math.min(Unigram.MaxPieceLen, s.length)).flatMap { l =>
        costs.get(s.take(l)).flatMap { c =>
          val rest = best(s.drop(l))
          if (rest < 0) None else Some(c * 128 + 1 + rest)
        }
      } match {
        case Seq() => -1L
        case cands => cands.min
      }
    }
    val m = Unigram.piecesMap(ps)
    import spark.implicits._
    val sample = words().select("word").as[String].collect()
      .filter(_.length <= 8).sortBy(identity).take(200)
    assert(sample.nonEmpty)
    sample.foreach { w =>
      val got = Unigram.combCost(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), m)
      assert(got === best(w), s"DP disagrees with enumeration on '$w'")
    }
  }

  test("x67 output is self-consistent and the fit is a durable artifact") {
    val rows = graft.SparkEntry.queries("x67_unigram_segment")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, cost, n) = (r.getString(0), r.getLong(2), r.getLong(3))
      assert(n >= 1 && n <= w.length, s"piece count out of range: $r")
      assert(cost >= n * (Unigram.PiecePenalty + 1),
        s"cost below structural floor: $r")
    }
    val dir = graft.util.ArtifactStore.artifactDir(spark, "unigram_pieces",
      Seq(sf, Tables.stamp(spark, sf, "documents")))
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val before = dir.lastModified()
    graft.SparkEntry.queries("x67_unigram_segment")(spark, sf).collect()
    assert(dir.lastModified() === before, "re-run must reuse, not refit")
  }

  test("segmentation prefers fewer pieces when cost ties cannot occur") {
    // the ·128+1 packing: for any two segmentations of the same word,
    // lower total cost always wins; equal cost -> fewer pieces wins.
    val ps = Seq(Unigram.Piece("a", 10001L), Unigram.Piece("aa", 20002L),
      Unigram.Piece("b", 10001L))
    val m = Unigram.piecesMap(ps)
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    // "aa": one piece 'aa' (cost 20002, 1 piece) vs 'a'+'a' (20002, 2)
    val packed = Unigram.combCost(u("aa"), m)
    assert(packed === 20002L * 128 + 1, "equal-cost tie must pick 1 piece")
    assert(Unigram.combCost(u("ba"), m) === 2L * 10001 * 128 + 2)
    assert(Unigram.combCost(u("zz"), m) === -1L, "unreachable")
  }
}
