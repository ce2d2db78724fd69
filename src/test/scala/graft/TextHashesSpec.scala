package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.functions.TextHashes
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class TextHashesSpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  test("simhash60 stays within 60 bits and is deterministic") {
    val toks = Seq("alpha", "beta", "gamma", "alpha")
    val h1 = TextHashes.simhash60(toks.iterator.map(UTF8String.fromString))
    val h2 = TextHashes.simhash60(toks.iterator.map(UTF8String.fromString))
    assert(h1 === h2)
    assert(h1 >= 0L && h1 < (1L << 60))
  }

  test("simhash60 of single token equals its md5-derived 60-bit hash") {
    // with one token every bit vote follows that token's hash exactly
    val tok = "hello"
    val h = TextHashes.simhash60(Iterator(UTF8String.fromString(tok)))
    val expected = java.lang.Long.parseLong(md5hex(tok).take(15), 16)
    assert(h === expected)
  }

  test("registered SQL functions match DuckDB-reproducible md5 formula") {
    GraftSession.install(spark)
    import spark.implicits._
    val row = Seq(Seq("aa", "bb")).toDF("toks")
      .selectExpr("minhash32(toks) AS mh", "simhash60(toks) AS sh")
      .head()
    val mh = row.getSeq[Long](0)
    assert(mh.length === 32)
    // h_k(tok) = (A_k*hi + C_k*lo + D_k) mod 2^61-1 over md5(tok)'s 60 bits
    def expected(k: Int): Long = Seq("aa", "bb").map { t =>
      val base = java.lang.Long.parseLong(md5hex(t).take(15), 16)
      val (hi, lo) = (base >>> 30, base & ((1L << 30) - 1))
      (TextHashes.MhA(k) * hi + TextHashes.MhC(k) * lo + TextHashes.MhD(k)) % ((1L << 61) - 1)
    }.min
    assert(mh.head === expected(0))
    assert(mh.last === expected(31))
  }

  test("near-identical token sets give close minhash signatures") {
    val base = (1 to 200).map(i => s"tok$i")
    val near = base.drop(2) ++ Seq("x1", "x2") // jaccard ~ 0.96
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(ts: Seq[String]) = new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any])
    val a = TextHashes.minhash(arr(base), 32)
    val b = TextHashes.minhash(arr(near), 32)
    val agree = a.zip(b).count { case (x, y) => x == y }
    assert(agree >= 24, s"expected >=24/32 matching minhashes, got $agree")
  }
}
