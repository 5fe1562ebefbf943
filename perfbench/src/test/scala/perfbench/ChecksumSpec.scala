package perfbench

class ChecksumSpec extends SparkSuite {
  import spark.implicits._

  test("the checksum ignores row order") {
    val df = (1 to 200).map(i => (i.toLong, s"s$i", i * 0.5, Seq(i, i + 1))).toDF("a", "b", "c", "d")
    val a = Checksum.of(df)
    assert(Checksum.of(df.orderBy($"a".desc).repartition(3)) == a)
    assert(a.startsWith("200:"))
  }

  test("the checksum ignores float summation order") {
    val left = Seq((1, (0.1 + 0.2) + 0.3)).toDF("k", "v")
    val right = Seq((1, 0.1 + (0.2 + 0.3))).toDF("k", "v")
    assert(left.head().getDouble(1) != right.head().getDouble(1))
    assert(Checksum.of(left) == Checksum.of(right))
  }

  test("the checksum sees values, nulls, duplicate rows and column names") {
    val base = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val a = Checksum.of(base)
    assert(Checksum.of(Seq((1, "x"), (2, "z")).toDF("k", "v")) != a)
    assert(Checksum.of(Seq((1, "x"), (2, null)).toDF("k", "v")) != a)
    assert(Checksum.of(base.union(base.limit(1))) != a)
    assert(Checksum.of(base.toDF("k", "w")) != a)
  }

  test("decimals and doubles of the same value agree") {
    val d = Seq(1.25, 3.5).toDF("v")
    assert(Checksum.of(d) == Checksum.of(d.select($"v".cast("decimal(18,2)").as("v"))))
  }
}
