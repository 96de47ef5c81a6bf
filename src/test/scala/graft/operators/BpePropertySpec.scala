package graft.operators

import graft.SparkSpec
import graft.streaming.TokenizeStream

/** Property coverage for the distributed BPE trainer: on random
  * weighted corpora, the relational window-pipeline loop must emit
  * exactly the merge table of a direct single-machine reference
  * trainer (the Sennrich algorithm in ~20 lines of plain Scala:
  * weighted pair counts, (count DESC, lhs, rhs) argmax, greedy
  * left-to-right application). Any drift in the window formulation —
  * run handling, tiebreaks, consumed-symbol drops — shows up here on
  * corpora no hand-written fixture would think of. */
class BpePropertySpec extends SparkSpec {

  import spark.implicits._

  /** Reference trainer: direct, sequential, obviously-correct. */
  private def referenceTrain(
      words: Seq[(String, Long)], k: Int): Seq[(Long, String, String, Long)] = {
    var seg: Map[Vector[String], Long] = words
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .map { case (w, f) => w.toCharArray.map(_.toString).toVector -> f }
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1
    var done = false
    while (step <= k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      seg.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ => ()
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((step.toLong, l, r, cnt))
        seg = seg.toSeq.map { case (syms, f) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              merged += (l + r); i += 2
            } else { merged += syms(i); i += 1 }
          }
          merged.result() -> f
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        step += 1
      }
    }
    out.result()
  }

  test("trainMerges equals the reference trainer on random weighted corpora") {
    val rnd = new scala.util.Random(41)
    (1 to 6).foreach { trial =>
      val vocabSize = 3 + rnd.nextInt(10)
      val words = (0 until vocabSize).map { _ =>
        val len = 1 + rnd.nextInt(6)
        ((0 until len).map(_ => "abc"(rnd.nextInt(3))).mkString,
          (1 + rnd.nextInt(20)).toLong)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.map(t => (t._1, t._2))
      val k = 1 + rnd.nextInt(8)
      val expect = referenceTrain(words, k)
      val got = TokenizeStream.trainMerges(words.toDF("w", "freq"), k)
      assert(got === expect, s"trial $trial words=$words k=$k")
    }
  }
}
