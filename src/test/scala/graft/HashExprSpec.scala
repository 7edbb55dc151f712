package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFns

/** The native Sha256Prefix60 expression must be bit-identical to the
  * composed built-in chain conv(substring(sha2(x,256),1,15),16,10) — that
  * chain is what the DuckDB oracle mirrors.
  */
class HashExprSpec extends SparkSpec {
  import spark.implicits._

  test("native hash64 equals the composed chain on assorted strings") {
    val samples = Seq("", "a", "abc", "0:the quick brown", "ü¢∆ unicode ✓",
      "15:word shingle here", "x" * 500) ++
      (0 until 200).map(i => s"$i:shingle $i of many")
    val df = samples.toDF("s")
    val mismatches = df.select(
      TextFns.hash64($"s").as("fast"),
      TextFns.hash64Composed($"s").as("spec"))
      .filter($"fast" =!= $"spec").count()
    assert(mismatches == 0)
  }

  test("property: equality holds for generated strings (500 samples)") {
    val gen = Gen.listOfN(500, Gen.oneOf(Gen.asciiPrintableStr,
      Gen.listOf(Gen.choose(32.toChar, 0x2FFF.toChar)).map(_.mkString)))
    val ss = gen.apply(Gen.Parameters.default, Seed(42L)).get
    val bad = ss.toDF("s")
      .select(TextFns.hash64($"s").as("f"), TextFns.hash64Composed($"s").as("g"))
      .filter($"f" =!= $"g").count()
    assert(bad == 0)
  }

  test("derived minhash family: 16 mixes of one digest stay distinct") {
    // the xor/shift mixing must not collapse hash functions into each other
    val shingles = (0 until 100).map(i => s"shingle $i word${i % 7}")
    val hex = sha2($"s", 256)
    def part(j: Int) = conv(substring(hex, 1 + 15 * j, 15), 16, 10).cast("long")
    val mixes = (0 until 16).map { h =>
      part(h % 4).bitwiseXOR(shiftright(part((h + 1) % 4), (h * 7) % 29)).as(s"h$h")
    }
    val rows = shingles.toDF("s").select(mixes: _*).collect()
    rows.foreach { r =>
      val vals = (0 until 16).map(r.getLong)
      assert(vals.distinct.size == 16, s"collapsed hash family: $vals")
    }
  }

  test("ShingleHashes fuses explode(wordShingles)+hash64 bit-identically") {
    // texts chosen to hit the edge cases the byte-slice fast path must
    // preserve: consecutive/leading/trailing spaces (empty words), unicode,
    // short docs (< n words -> empty), empty string
    val texts = Seq("", "one", "one two", "one two three",
      "a  doubled  space run", " leading and trailing ", "ü¢∆ uni ✓ code ✗ más",
      "w " * 200 + "end") ++
      (0 until 100).map(i => s"doc $i body ${"tok " * (i % 17)}tail")
    val df = texts.toDF("t")
    for (n <- Seq(2, 3, 5)) {
      val spec = df.select(
        transform(TextFns.wordShingles($"t", n), s => TextFns.hash64Composed(s))
          .as("spec"),
        TextFns.shingleHashes($"t", n).as("fast"))
      assert(spec.filter(not($"spec" <=> $"fast")).count() == 0, s"n=$n")
    }
  }

  test("ShingleParts: element 0 matches ShingleHashes, all parts match conv chain") {
    val texts = Seq("alpha beta gamma delta epsilon", "a  b  c  d", "x y z")
    val df = texts.toDF("t")
    val hex = sha2($"s", 256)
    def part(j: Int) = conv(substring(hex, 1 + 15 * j, 15), 16, 10).cast("long")
    val flat = df.select(posexplode(TextFns.shingleParts($"t", 3)).as(Seq("i", "ps")),
      $"t")
    val shingleStr = df.select($"t", posexplode(TextFns.wordShingles($"t", 3))
      .as(Seq("i", "s")))
    val expected = shingleStr.select($"t", $"i",
      array((0 until 4).map(part): _*).as("exp_ps"))
    val joined = flat.join(expected, Seq("t", "i"))
    assert(joined.filter(not($"ps" <=> $"exp_ps")).count() == 0)
  }

  test("native SimHashBits equals the composed explode+vote-column form") {
    val texts = Seq("", "one", "alpha beta gamma alpha alpha",
      "a  double  space", " lead trail ", "ü¢∆ uni ✓", "w " * 150 + "end") ++
      (0 until 60).map(i => s"doc $i ${"tok " * (i % 11)}body")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for (bits <- Seq(16, 32)) {
      val fast = df.select($"id", graft.expressions.SimHashBits($"t", bits).as("s"))
        .as[(Long, Long)].collect().toMap
      val spec = ComposedForms.simHash(df, "id", "t", bits)
        .as[(Long, Long)].collect().toMap
      assert(fast == spec, s"bits=$bits")
    }
  }

  test("native DotScaled/Norm2Scaled equal the composed HOF forms (float and double)") {
    import graft.functions.VectorFns
    val rng = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1),
        Array.fill(64)(rng.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    // float inputs straight into the native kernel vs widened composed form
    val cmp = df.select(
      VectorFns.dotScaled($"a", $"b").as("dot_fast"),
      ComposedForms.dotScaled(
        VectorFns.toDoubleArray($"a"), VectorFns.toDoubleArray($"b")).as("dot_spec"),
      VectorFns.norm2Scaled($"a").as("n2_fast"),
      ComposedForms.norm2Scaled(VectorFns.toDoubleArray($"a")).as("n2_spec"))
    assert(cmp.filter($"dot_fast" =!= $"dot_spec" || $"n2_fast" =!= $"n2_spec")
      .count() == 0)
    // double-array inputs take the same path
    val cmpD = df.select(VectorFns.toDoubleArray($"a").as("ad"),
        VectorFns.toDoubleArray($"b").as("bd"))
      .select(VectorFns.dotScaled($"ad", $"bd").as("f"),
        ComposedForms.dotScaled($"ad", $"bd").as("g"))
    assert(cmpD.filter($"f" =!= $"g").count() == 0)
  }

  test("native PlaneSig equals the per-row hash-derived signature") {
    import graft.ops.Similarity
    val rng = new scala.util.Random(11)
    val rows = (0 until 100).map(i => (i.toLong, Array.fill(32)(rng.nextFloat() * 2 - 1)))
    val df = rows.toDF("vec_id", "embedding")
    val fast = Similarity.planeSignature(df, "vec_id", "embedding", numPlanes = 8)
      .as[(Long, Long)].collect().toMap
    // composed spec: coefficient re-derived per (b, i) via the hash chain
    val hex = (b: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
      graft.functions.TextFns.hash64Composed(
        concat(b.cast("string"), lit(","), i.cast("string")))
    val spec = df
      .select($"vec_id", graft.functions.VectorFns.toDoubleArray($"embedding").as("dvec"))
      .select($"vec_id", $"dvec", explode(sequence(lit(0), lit(7))).as("b"))
      .withColumn("pdot", aggregate(
        sequence(lit(1), size($"dvec")), lit(0L),
        (acc, i) => acc + floor((pmod(hex($"b", i), lit(2001L)) - 1000L).cast("double") *
          element_at($"dvec", i.cast("int")) * lit(1e9))))
      .groupBy($"vec_id")
      .agg(sum(when($"pdot" >= 0, expr("shiftleft(cast(1 as bigint), b)"))
        .otherwise(0L)).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(fast == spec)
  }

  test("the graft function family is SQL-callable when GraftExtensions is installed") {
    // register directly on the active session's registry (same builders
    // GraftExtensions injects at session build)
    import org.apache.spark.sql.catalyst.expressions.Expression
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    register("graft_hash64", c => graft.expressions.Sha256Prefix60(c.head))
    register("graft_shingle_hashes", c => graft.expressions.ShingleHashes(c.head, 3))
    register("graft_deletion_neighborhood",
      c => graft.expressions.DeletionNeighborhood(c.head, 2))
    register("graft_dot_scaled", c => graft.expressions.DotScaled(c(0), c(1),
      graft.functions.VectorFns.Scale))

    val got = spark.sql("SELECT graft_hash64('abc') AS h").as[Long].head()
    val expected = Seq("abc").toDF("s")
      .select(TextFns.hash64Composed($"s")).as[Long].head()
    assert(got == expected)

    val sh = spark.sql(
      "SELECT graft_shingle_hashes('a b c d') AS a").as[Seq[Long]].head()
    assert(sh.length == 2) // two 3-gram shingles of a 4-word text

    val dn = spark.sql(
      "SELECT size(graft_deletion_neighborhood('abc')) AS n").as[Int].head()
    assert(dn == 7) // abc, bc, ac, ab, c, b, a

    val dot = spark.sql(
      "SELECT graft_dot_scaled(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Long].head()
    assert(dot == (3e12.toLong + 8e12.toLong))
  }
}
