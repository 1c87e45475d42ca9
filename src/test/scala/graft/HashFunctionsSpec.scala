package graft

import graft.functions.{HashFunctions => H}
import org.apache.spark.sql.functions._

/** Column-form hash and similarity primitives (the sketch kernels are
  * covered in DedupOpsSpec; these keep the Column API honest on small
  * inputs).
  */
class HashFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("hamming: identical sketches → 0; symmetric on differing bits") {
    val df = Seq((0x5A5AL, 0x5A5AL), (0x0FL, 0xF0L), (0xF0L, 0x0FL), (-1L, 0L))
      .toDF("x", "y").select(H.hamming(col("x"), col("y")).as("h"))
    assert(df.as[Int].collect().toSeq == Seq(0, 8, 8, 64))
  }

  test("jaccard expression bounds and exact values") {
    val df = Seq((Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String])).toDF("x", "y")
      .select(H.jaccard(col("x"), col("y")).as("j"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("portableHash60: JVM kernel twin matches the Column form bit-for-bit") {
    val samples = Seq("", "a", "hello world", "graft_perm_a_0", "Ünïcodé ☃",
      "https://x.test/doc/42.pdf", "the quick brown fox")
    val viaColumn = samples.toDF("s")
      .select(H.portableHash60(col("s")).as("h")).as[Long].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    val viaJvm = samples.map(H.portableHash60JVM(md, _))
    assert(viaColumn.toSeq == viaJvm)
    // 60-bit: always non-negative, below 2^60
    assert(viaJvm.forall(h => h >= 0 && h < (1L << 60)))
  }

  test("portableHash60 property: random strings agree across both forms") {
    val rng = new scala.util.Random(13)
    val samples = Seq.fill(300)(rng.alphanumeric.take(rng.nextInt(40)).mkString)
      .distinct
    val viaColumn = samples.toDF("s")
      .select(H.portableHash60(col("s")).as("h")).as[Long].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    assert(viaColumn.toSeq == samples.map(H.portableHash60JVM(md, _)))
  }
}
