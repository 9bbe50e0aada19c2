package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Multimodal

class ImageDHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("encoding and decoding through Multimodal leaves ImageIO's JVM-wide cache switch alone") {
    import spark.implicits._
    // nothing in this process flips the switch: it still holds the JDK
    // default after every earlier suite in this JVM, and after this decode
    assert(javax.imageio.ImageIO.getUseCache, "ImageIO's disk cache switch was flipped")
    val ids = Seq(3L, 5L)
    val got = Multimodal.decodeImageStats(
      ids.toDS().map(id => Multimodal.ImageRecord(id, Multimodal.synthesizePng(id))))
      .collect()
    assert(got.map(_.media_id).sorted.toSeq == ids)
    assert(Multimodal.synthesizeGif(4L).nonEmpty)
    assert(javax.imageio.ImageIO.getUseCache, "ImageIO's disk cache switch was flipped")
  }

  test("dHash from the REAL decode equals the pattern-formula replay") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 7L, 63L, 200L)
    val got = Multimodal.imageDHash(
      ids.toDS().map(id => Multimodal.ImageRecord(id, Multimodal.synthesizePng(id))))
      .collect().map(h => h.media_id -> h.dhash).toMap
    def formulaHash(id: Long): Long = {
      val w = 8 + (id % 8).toInt; val h = 8 + (id % 5).toInt
      def gray(x: Int, y: Int): Long = {
        val base = id * 31 + x * 7 + y * 13
        base % 256 + (base + 101) % 256 + (base + 202) % 256
      }
      val xs = Array.tabulate(9)(i => i * (w - 1) / 8)
      val ys = Array.tabulate(8)(j => j * (h - 1) / 7)
      (for (j <- 0 until 8; i <- 0 until 8
        if gray(xs(i + 1), ys(j)) > gray(xs(i), ys(j)))
        yield 1L << (j * 8 + i)).fold(0L)(_ | _)
    }
    ids.foreach(id => assert(got(id) == formulaHash(id), s"id=$id"))
  }

  test("near-dup pairs: identical pattern → hamming 0; threshold guard") {
    import spark.implicits._
    // id 0 vs 256 share (w, h) and gray layout — a known hamming-0 pair
    val docs = Seq(0L, 256L, 3L).toDF("doc_id")
    val got = Multimodal.imageNearDupPairs(spark, docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.get((0L, 256L)).contains(0L))
    // a pair beyond the pigeonhole guarantee is rejected loudly
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(spark, docs, maxHamming = 9)
    }
  }

  test("banding is a lossless prefilter at hamming ≤ 3 (matches brute force)") {
    import spark.implicits._
    val ids = (0L until 120L).toSeq
    val hashes = Multimodal.imageDHash(
      ids.toDS().map(id => Multimodal.ImageRecord(id, Multimodal.synthesizePng(id))))
      .collect().map(h => h.media_id -> h.dhash).toMap
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
      if d <= 3
    } yield (a, b) -> d.toLong).toMap
    val got = Multimodal.imageNearDupPairs(spark, ids.toDF("doc_id"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == brute)
  }
}
