package graft

/** `Verify`'s attestation digest is a function of the dumped row multiset:
  * the same rows in another order or partitioning attest the same digest,
  * and a changed value does not.
  */
class VerifySpec extends SparkSpec {
  import spark.implicits._

  test("attestation digest: row order and partitioning do not move it; a changed value does") {
    val rows = (1L to 200L).map(i => (i, s"t$i", i * 0.5, if (i % 7 == 0) None else Some(i % 3)))
    val df = rows.toDF("id", "text", "x", "maybe")
    val dir = tmpDir("verify_digest")
    df.orderBy($"id".desc).coalesce(1).write.parquet(s"$dir/a")
    df.repartition(5).write.parquet(s"$dir/b")
    def read(p: String) = Verify.digest(spark.read.parquet(p))
    val (n, sha) = read(s"$dir/a")
    assert(n === 200L)
    assert(read(s"$dir/b") === ((n, sha)))
    rows.updated(17, rows(17).copy(_3 = 0.25)).toDF("id", "text", "x", "maybe")
      .write.parquet(s"$dir/c")
    val (n2, sha2) = read(s"$dir/c")
    assert(n2 === n)
    assert(sha2 !== sha)
  }
}
