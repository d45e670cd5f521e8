package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class FunctionsSpec extends SparkSpec {

  private def cosineOf(a: Seq[Float], b: Seq[Float]): Option[Double] = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .selectExpr("cosine_sim(a, b) AS c")
      .collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
  }

  test("cosine_sim matches a hand computation (codegen path)") {
    val c = cosineOf(Seq(1f, 2f, 3f), Seq(2f, 4f, 6f)).get
    assert(math.abs(c - 1.0) < 1e-12) // parallel vectors
    val c2 = cosineOf(Seq(1f, 0f), Seq(0f, 1f)).get
    assert(math.abs(c2) < 1e-12) // orthogonal
  }

  test("cosine_sim agrees with the higher-order-function formulation") {
    import spark.implicits._
    val df = Seq.tabulate(50)(i =>
      (Seq.tabulate(16)(j => (i * 31 + j * 7 % 13).toFloat / 10f),
       Seq.tabulate(16)(j => (i * 17 + j * 11 % 7).toFloat / 10f)))
      .toDF("a", "b")
    val both = df.select(
      expr("cosine_sim(a, b)").as("native"),
      (aggregate(zip_with(
        transform($"a", x => x.cast("double")),
        transform($"b", x => x.cast("double")), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(transform($"a", x => x.cast("double")),
          lit(0.0), (acc, x) => acc + x * x)) *
         sqrt(aggregate(transform($"b", x => x.cast("double")),
           lit(0.0), (acc, x) => acc + x * x)))).as("hof"))
      .collect()
    both.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("cosine_sim: null on length mismatch or zero vector") {
    assert(cosineOf(Seq(1f, 2f), Seq(1f, 2f, 3f)).isEmpty)
    assert(cosineOf(Seq(0f, 0f), Seq(1f, 2f)).isEmpty)
  }

  test("cosine_sim: a null ELEMENT propagates null (both eval paths)") {
    import spark.implicits._
    // codegen path via DataFrame
    val viaDf = Seq((Seq(Some(1f), None, Some(3f)), Seq(Some(1f), Some(2f), Some(3f))))
      .toDF("a", "b")
      .selectExpr("cosine_sim(a, b) AS c")
      .collect().head
    assert(viaDf.isNullAt(0))
    // interpreted path via direct eval
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val withNull = Literal.create(
      new GenericArrayData(Array[Any](1f, null, 3f)), ArrayType(FloatType))
    val plain = Literal.create(
      new GenericArrayData(Array[Any](1f, 2f, 3f)), ArrayType(FloatType))
    assert(CosineSimilarity(withNull, plain).eval(null) == null)
    assert(CosineSimilarity(plain, withNull).eval(null) == null)
  }

  test("cosine_sim interpreted eval agrees with codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val mk = (xs: Seq[Float]) =>
      Literal.create(new GenericArrayData(xs.map(Float.box).toArray),
        ArrayType(FloatType))
    val e = CosineSimilarity(mk(Seq(1f, 2f, 3f)), mk(Seq(3f, 2f, 1f)))
    val interpreted = e.eval(null).asInstanceOf[Double]
    val viaDf = cosineOf(Seq(1f, 2f, 3f), Seq(3f, 2f, 1f)).get
    assert(math.abs(interpreted - viaDf) < 1e-12)
  }

  test("rhp_signature agrees with the higher-order-function formulation") {
    import spark.implicits._
    val planes: Seq[Seq[Double]] = (0 until 8).map(m =>
      (0 until 64).map(i => RhpSignature.flatPlanes(m * 64 + i)))
    val hp = typedLit(planes)
    val df = Seq.tabulate(40)(s =>
      Tuple1(Seq.tabulate(64)(j => math.sin(s * 13 + j * 3)))).toDF("v")
    val both = df.select(
      expr("rhp_signature(v)").as("native"),
      aggregate(
        zip_with(hp, sequence(lit(0), lit(7)), (p, m) =>
          when(aggregate(zip_with(p, $"v", (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x) >= 0,
            pow(lit(2.0), m).cast("long")).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x).as("hof"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("rhp_signature(v, 64): low 8 bits equal the default 8-plane signature") {
    // plane m is the same hyperplane at every width (the matrix is a
    // fixed 64x64 constant; narrower signatures read a prefix), so the
    // 64-plane banding of q86 stays consistent with the q47/q98 index
    import spark.implicits._
    val df = Seq.tabulate(40)(s =>
      Tuple1(Seq.tabulate(64)(j => math.sin(s * 13 + j * 3)))).toDF("v")
    df.selectExpr("rhp_signature(v) AS s8", "rhp_signature(v, 64) AS s64")
      .collect()
      .foreach(r => assert((r.getLong(1) & 0xffL) == r.getLong(0)))
  }

  test("rhp_signature: null on wrong length, null element, or null input") {
    import spark.implicits._
    def sigOf(v: Seq[Option[Double]]): Boolean =
      Seq(Tuple1(v)).toDF("v").selectExpr("rhp_signature(v) AS s")
        .collect().head.isNullAt(0)
    assert(sigOf(Seq.fill(63)(Some(1.0))))          // wrong length
    assert(sigOf(Seq.fill(63)(Some(1.0)) :+ None))  // null element
    assert(!sigOf(Seq.fill(64)(Some(1.0))))         // valid
  }

  test("WeightedAverage: merge law (the incrementation property)") {
    val xs = Seq((10.0, 1.0), (20.0, 3.0), (5.0, 2.0), (8.0, 4.0))
    val (a, b) = xs.splitAt(2)
    def aggOf(ys: Seq[(Double, Double)]) =
      ys.foldLeft(WeightedAverage.zero)(WeightedAverage.reduce)
    val whole = aggOf(xs)
    val merged = WeightedAverage.merge(aggOf(a), aggOf(b))
    assert(whole == merged)
    assert(math.abs(WeightedAverage.finish(whole) -
      xs.map(p => p._1 * p._2).sum / xs.map(_._2).sum) < 1e-12)
  }
}
