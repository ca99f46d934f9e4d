package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("DotProduct matches the higher-order zip_with formulation bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new Random(7)
    val rows = (1 to 50).map { i =>
      (i, Seq.fill(64)(rnd.nextDouble()), Seq.fill(64)(rnd.nextDouble()))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
      DotProduct.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("slow")).collect()
    got.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"id ${r.getInt(0)}")
    }
  }

  test("SortedIntersectCount matches size(array_intersect) on sorted distinct arrays") {
    val s = spark
    import s.implicits._
    val rnd = new Random(11)
    val vocab = (1 to 40).map(i => s"w$i")
    val rows = (1 to 100).map { i =>
      (i, rnd.shuffle(vocab).take(rnd.nextInt(20) + 1).sorted,
        rnd.shuffle(vocab).take(rnd.nextInt(20) + 1).sorted)
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
      SortedIntersectCount.sortedIntersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("slow")).collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"id ${r.getInt(0)}")
    }
  }

  test("native expressions are callable from SQL after registration") {
    graft.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  graft_sorted_intersect_count(array('a','b'), array('b','c')) AS c,
        |  graft_stride_bytes(cast('abcdef' AS binary), 2) AS sb,
        |  size(graft_rolling_hash(cast('abcdefgh' AS binary), 4)) AS nrh
        |""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 1L)
    assert(new String(r.getAs[Array[Byte]](2), "UTF-8") == "ace")
    assert(r.getInt(3) == 5)
    // the Int parameter must be a literal — a column there is a
    // loud error, not silent misbehavior
    intercept[Exception] {
      spark.sql("SELECT graft_stride_bytes(cast('ab' AS binary), length('xx'))")
        .collect()
    }
  }

  test("RollingHash incremental slide equals the direct per-window polynomial") {
    val s = spark
    import s.implicits._
    val rnd = new Random(13)
    val rows = (1 to 30).map { i =>
      (i.toLong, rnd.alphanumeric.take(rnd.nextInt(40) + 4).mkString)
    }
    val w = 8
    val got = rows.toDF("id", "text")
      .select(col("id"),
        RollingHash.rollingHash(col("text").cast("binary"), w).as("rh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val expected =
        if (bytes.length < w) Seq.empty[Long]
        else (0 to bytes.length - w).map { i =>
          (0 until w).foldLeft(0L)((h, j) =>
            (h * RollingHash.B + (bytes(i + j) & 0xff)) % RollingHash.P)
        }
      assert(got(id) == expected, s"id $id")
    }
  }

  test("RollingHash is insertion-robust where fixed framing is not") {
    val s = spark
    import s.implicits._
    // inserting one byte at the front shifts every fixed frame, but the
    // rolling window hash set still shares all windows after the edit
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "X" + a
    val df = Seq((1L, a), (2L, b)).toDF("id", "text")
    val hs = df.select(col("id"),
      RollingHash.rollingHash(col("text").cast("binary"), 8).as("rh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val shared = hs(1L).intersect(hs(2L)).size.toDouble / hs(1L).size
    assert(shared > 0.9, s"shared fraction $shared")
  }

  test("NfcNormalize composes decomposed sequences and is identity on NFC text") {
    val s = spark
    import s.implicits._
    val decomposed = "Café du Musée" // mixed: e+combining acute, precomposed é
    val df = Seq((1L, decomposed), (2L, "plain ascii"), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = df.select(col("id"),
      graft.functions.NfcNormalize.nfc(col("text")).as("nfc"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "Café du Musée")
    assert(got(2L) == "plain ascii")
    assert(got(3L) == null)
    // idempotent: normalizing twice changes nothing
    val twice = df.filter(col("id") === 1)
      .select(graft.functions.NfcNormalize.nfc(
        graft.functions.NfcNormalize.nfc(col("text"))).as("n"))
      .collect()(0).getString(0)
    assert(twice == "Café du Musée")
  }

  test("graft_nfc is callable from SQL") {
    graft.GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_nfc('é') AS n").collect()(0).getString(0)
    assert(r == "é")
  }

  test("HexSlice60 ≡ conv(substring(h, start, 15), 16, 10) on md5 hex, " +
    "both slices, null-safe") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val df = ((1 to 200).map(i => s"val|$i") :+ null).toDF("v")
      .withColumn("d", md5(col("v")))
    val got = df.select(
      graft.functions.HexSlice60.slice(col("d"), 1).as("a"),
      graft.functions.HexSlice60.slice(col("d"), 16).as("b"),
      conv(substring(col("d"), 1, 15), 16, 10).cast("long").as("ca"),
      conv(substring(col("d"), 16, 15), 16, 10).cast("long").as("cb"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(2))
      if (!r.isNullAt(0)) {
        assert(r.getLong(0) == r.getLong(2), "first slice diverged from conv")
        assert(r.getLong(1) == r.getLong(3), "second slice diverged from conv")
      }
    }
    // loud contract failures instead of silent garbage
    intercept[Exception] {
      Seq("abc").toDF("h").select(
        graft.functions.HexSlice60.slice(col("h"), 1)).collect()
    }
    intercept[Exception] {
      Seq("zzzzzzzzzzzzzzzz").toDF("h").select(
        graft.functions.HexSlice60.slice(col("h"), 1)).collect()
    }
  }

  test("expressions survive both codegen and interpreted paths") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0), Seq("a", "b"), Seq("b", "c")))
      .toDF("a", "b", "x", "y")
    // interpreted path via eval on collected expressions
    val r = df.select(
      DotProduct.dot(col("a"), col("b")).as("d"),
      SortedIntersectCount.sortedIntersectCount(col("x"), col("y")).as("c"))
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) == 1L)
  }

  test("SortedCeilSnap passes NaN through, interpreted and codegen'd") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types.DoubleType
    val snap = SortedCeilSnap(BoundReference(0, DoubleType, nullable = true),
      Array(1.0, 2.0, 4.0))
    val generated = GenerateMutableProjection.generate(Seq(snap))
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    Seq(Double.NaN -> Double.NaN, 0.5 -> 1.0, 2.0 -> 2.0, 3.0 -> 4.0,
      9.0 -> Double.PositiveInfinity, Double.NegativeInfinity -> 1.0,
      Double.PositiveInfinity -> Double.PositiveInfinity).foreach {
      case (v, want) =>
        val row = InternalRow(v)
        assert(bits(snap.eval(row).asInstanceOf[Double]) == bits(want), s"eval($v)")
        assert(bits(generated(row).getDouble(0)) == bits(want), s"codegen($v)")
    }
  }
}
