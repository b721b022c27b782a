package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The fused tokenize → shingle → hash loop against the string path it
  * replaced (kept here as the reference): `split("\\s+")` on the decoded
  * `String`, shingles joined by a `StringBuilder`, a boxed `HashSet` for the
  * dedup and one `XXH64.hashLong` per permutation. Signature values, and
  * shingle-hash values and order, must be bit-identical — persisted LSH
  * indexes depend on it. */
class ShingleHashingSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  /** The string path: (signature, shingle hashes a, shingle hashes b). */
  private def reference(text: UTF8String, n: Int, numHashes: Int): (Seq[Long], Seq[Long], Seq[Long]) = {
    val toks = text.toString.split("\\s+").filter(_.nonEmpty)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val seen = new java.util.HashSet[java.lang.Long]()
    val as = Seq.newBuilder[Long]
    val bs = Seq.newBuilder[Long]
    for (i <- 0 until math.max(0, toks.length - n + 1)) {
      val u = UTF8String.fromString(toks.slice(i, i + n).mkString(" "))
      val a = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      if (seen.add(a)) {
        as += a
        bs += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes,
          XXH64.hashInt(1, 42L))
        for (p <- 0 until numHashes) mins(p) = math.min(mins(p), XXH64.hashLong(a, p.toLong))
      }
    }
    (mins.toSeq, as.result(), bs.result())
  }

  /** The string path of the SimHash vote over the same tokens. */
  private def referenceSimhash(text: UTF8String): Long = {
    val votes = new Array[Int](64)
    for (tok <- text.toString.split("\\s+") if tok.nonEmpty) {
      val u = UTF8String.fromString(tok)
      val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      for (bit <- 0 until 64) votes(bit) += (if (((h >>> bit) & 1L) == 1L) 1 else -1)
    }
    (0 until 64).foldLeft(0L)((out, bit) => if (votes(bit) > 0) out | (1L << bit) else out)
  }

  private val rnd = new scala.util.Random(20261019)
  private val words = Seq("the", "a", "quick", "brown", "fox", "naïve", "café", "東京", "a\u00a0b",
    "日本語", "😀", "🚀x", "a b", " ", "x y", "tab", "end.") ++
    (0 until 40).map(i => s"w$i")
  private val seps = Seq(" ", " ", " ", "  ", "\t", "\r\n", "\n", "\u000B", "\f", " \t ")

  private def randomText(): String = {
    val k = rnd.nextInt(14)
    val body = (0 until k).map { _ =>
      words(rnd.nextInt(words.length)) + seps(rnd.nextInt(seps.length))
    }.mkString
    (if (rnd.nextBoolean()) seps(rnd.nextInt(seps.length)) else "") + body
  }

  /** Valid texts (random, and the named edge cases) as UTF-8 bytes, plus
    * random byte strings that are mostly invalid UTF-8. */
  private val corpus: Seq[Array[Byte]] = {
    val named = Seq("", " ", "\t\r\n", "one", "one two", "  lead and trail  ",
      "a  b\t\tc\r\nd e f", "repeat repeat repeat repeat repeat",
      "nbsp joined words stay one token", "東京 は 日本 の 首都 です",
      "emoji 😀 🚀 in 😀 🚀 text")
    val valid = (named ++ Seq.fill(300)(randomText())).map(_.getBytes("UTF-8"))
    val invalid = Seq.fill(200) {
      Array.fill(rnd.nextInt(40)) {
        rnd.nextInt(6) match {
          case 0 => 32.toByte
          case 1 => (0x80 + rnd.nextInt(0x80)).toByte
          case 2 => Seq(0xC0, 0xC1, 0xE0, 0xED, 0xF0, 0xF4, 0xF5, 0xFF)(rnd.nextInt(8)).toByte
          case _ => (97 + rnd.nextInt(4)).toByte
        }
      }
    } ++ Seq(Array[Byte](0x61, 0x20, 0xED.toByte, 0xA0.toByte, 0x80.toByte, 0x20, 0x62, 0x20, 0x63),
      Array[Byte](0x61, 0x20, 0xC0.toByte, 0xAF.toByte, 0x20, 0x62, 0x20, 0x63))
    valid ++ invalid
  }

  test("the kernel equals the string path: sig values, sh values and order, b hashes, simhash") {
    assert(corpus.count(b => !UTF8String.fromBytes(b).isValid) > 150)
    for (bytes <- corpus) {
      val t = UTF8String.fromBytes(bytes)
      assert(ShingleHashing.simhash(t) == referenceSimhash(t), bytes.map(b => f"$b%02x").mkString)
    }
    for (bytes <- corpus; n <- Seq(1, 2, 3)) {
      val t = UTF8String.fromBytes(bytes)
      val (sig, as, bs) = reference(t, n, 16)
      val what = s"n=$n text=${bytes.map(b => f"$b%02x").mkString}"
      assert(ShingleHashing.signature(t, n, 16).toLongArray().toSeq == sig, what)
      val sk = ShingleHashing.sketch(t, n, 16)
      assert(sk.getArray(0).toLongArray().toSeq == sig, what)
      assert(sk.getArray(1).toLongArray().toSeq == as, what)
      assert(ShingleHashing.sketch(t, n, 0).getArray(0).numElements() == 0, what)
      val pairs = ShingleHashing.pairHashes(t, n).asInstanceOf[GenericArrayData].array
        .map(_.asInstanceOf[InternalRow])
      assert(pairs.map(_.getLong(0)).toSeq == as && pairs.map(_.getLong(1)).toSeq == bs, what)
    }
  }

  test("codegen and interpreted evaluation agree with the reference, null stays null") {
    val rows = corpus.map(Option(_)) :+ None
    // a shuffle keeps the projection out of optimizer-time local folding
    val df = rows.zipWithIndex.toDF("bin", "i").repartition(3)
      .select(col("i"), col("bin").cast("string").as("t"))
    val sk = ColumnBridge.column(ShingleSketch(ColumnBridge.expression(col("t")), 3, 64))
    def evaluated(mode: String): Seq[(Option[Seq[Long]], Option[Seq[Long]])] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      try df.select(col("i"), sk.getField("sig").as("sig"), sk.getField("sh").as("sh"))
        .collect().toSeq.sortBy(_.getInt(0))
        .map(r => (Option(r.getSeq[Long](1)), Option(r.getSeq[Long](2))))
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val want = rows.map(_.map { b =>
      val (sig, as, _) = reference(UTF8String.fromBytes(b), 3, 64)
      (sig, as)
    })
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val got = evaluated(mode)
      assert(got.length == want.length)
      got.zip(want).foreach {
        case ((sig, sh), Some((wsig, wsh))) => assert(sig.contains(wsig) && sh.contains(wsh), mode)
        case ((sig, sh), None) => assert(sig.isEmpty && sh.isEmpty, mode)
      }
    }
  }
}
