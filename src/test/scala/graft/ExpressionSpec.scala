package graft

import graft.expressions.TextOps
import graft.functions._
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
/** Native Catalyst expression semantics: cosine_sim / dot_product /
  * simhash64 / fingerprint64, in both Column and SQL form; the SQL names
  * come from `Graft.session`, so every session and child has them. */
class ExpressionSpec extends GraftSuite {
  import spark.implicits._

  private def dfOf(vecs: (Long, Seq[Float])*) =
    vecs.toDF("id", "v")

  test("cosine_sim matches hand-computed values") {
    val df = dfOf(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(3f, 4f))
    val out = df.crossJoin(df.select($"id".as("id2"), $"v".as("v2")))
      .select($"id", $"id2", cosine_sim($"v", $"v2").as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out((1L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(out((1L, 2L)) - 0.0) < 1e-12)
    assert(math.abs(out((1L, 3L)) - 0.6) < 1e-12)   // (3,4)·(1,0)/5 = 0.6
  }

  test("cosine_sim of zero vector is NULL") {
    val df = dfOf(1L -> Seq(0f, 0f), 2L -> Seq(1f, 1f))
    val r = df.filter($"id" === 1)
      .crossJoin(df.filter($"id" === 2).select($"v".as("v2")))
      .select(cosine_sim($"v", $"v2")).collect()
    assert(r.head.isNullAt(0))
  }

  test("cosine_sim bounded in [-1, 1] and matches a reference impl (property)") {
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(30)(
      (Seq.fill(8)(rnd.nextFloat() * 200f - 100f), Seq.fill(8)(rnd.nextFloat() * 200f - 100f)))
    val df = cases.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("i", "a", "b")
      .select($"i", cosine_sim($"a", $"b").as("cos"))
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val expect = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
      assert(math.abs(got(i.toLong) - expect) < 1e-9)
      assert(got(i.toLong) >= -1.0000001 && got(i.toLong) <= 1.0000001)
    }
  }

  test("functions registered on SQL surface via extensions") {
    spark.sql("SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS c")
      .collect().map(_.getDouble(0)).foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    val sh = spark.sql("SELECT simhash64(array('a','b','c')) AS s").collect().head.getLong(0)
    assert(sh === TextOps.simhash64(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(UTF8String.fromString("a"), UTF8String.fromString("b"), UTF8String.fromString("c")))))
  }

  test("Graft.session installs the SQL functions: children resolve them with no registration") {
    val expected = TextOps.simhash64(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(UTF8String.fromString("a"))))
    def resolves(s: org.apache.spark.sql.SparkSession): Unit = {
      val r = s.sql("SELECT cosine_sim(array(cast(1.0 as float)), array(cast(2.0 as float))) AS c, " +
        "simhash64(array('a')) AS h").head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getLong(1) === expected)
      val info = s.sessionState.functionRegistry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"))
      assert(info.map(_.getSource) === Some("built-in"))
    }
    resolves(spark)
    resolves(PinotFunctions.viewsSession(spark, sfDir))
    resolves(Graft.child(spark, "expression-spec")(_ => ()))
  }

  test("simhash: near-identical docs within small hamming distance, distinct docs far") {
    val doc = (1 to 100).map(i => s"tok$i")
    val nearDup = doc.updated(5, "changed").updated(50, "other")
    val unrelated = (1 to 100).map(i => s"zzz$i")
    val df = Seq((1L, doc), (2L, nearDup), (3L, unrelated)).toDF("id", "toks")
      .select($"id", simhash64($"toks").as("s"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) <= 12, s"near-dup hamming ${ham(m(1L), m(2L))}")
    assert(ham(m(1L), m(3L)) >= 20, s"unrelated hamming ${ham(m(1L), m(3L))}")
  }

  test("fingerprint64 is order-sensitive, simhash64 is not") {
    val a = Seq("x", "y", "z", "w")
    val df = Seq((1L, a), (2L, a.reverse)).toDF("id", "toks")
      .select($"id", simhash64($"toks").as("sh"), fingerprint64($"toks").as("fp"))
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (_, sh1, fp1) = rows.find(_._1 == 1L).get
    val (_, sh2, fp2) = rows.find(_._1 == 2L).get
    assert(sh1 === sh2)
    assert(fp1 !== fp2)
  }

  test("byte_avg: unsigned mean, empty binary is NULL, matches per-byte fold") {
    val rnd = new scala.util.Random(11)
    val payloads: Seq[(Long, Array[Byte])] = Seq(
      1L -> Array[Byte](0xff.toByte),                  // unsigned: 255, not -1
      2L -> Array[Byte](0, 0xff.toByte),               // 127.5
      3L -> Array.emptyByteArray,                      // NULL
      4L -> Array.fill(513)(rnd.nextInt(256).toByte))  // random, odd length
    val got = payloads.toDF("id", "b")
      .select($"id", byte_avg($"b").as("m"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) === Some(255.0))
    assert(got(2L) === Some(127.5))
    assert(got(3L) === None)
    val expect4 = payloads.find(_._1 == 4L).get._2.map(_ & 0xff).map(_.toLong).sum.toDouble / 513
    assert(math.abs(got(4L).get - expect4) < 1e-12)
    // SQL-registered form agrees with the Column form
    val sqlGot = spark.sql("SELECT byte_avg(X'00FF') AS m").collect().head.getDouble(0)
    assert(sqlGot === 127.5)
  }

  test("stable_hash64 differs by seed and is deterministic") {
    val s = UTF8String.fromString("hello")
    assert(TextOps.hash64(s, 0L) === TextOps.hash64(UTF8String.fromString("hello"), 0L))
    assert(TextOps.hash64(s, 0L) !== TextOps.hash64(s, 1L))
  }
}
