package graft

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("schema-evolved directories read with mergeSchema and null backfill") {
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString + "/t"
    try {
      // v1 writer: two columns; v2 writer adds a third
      Seq((1L, "a"), (2L, "b")).toDF("id", "name")
        .write.mode("append").parquet(dir)
      Seq((3L, "c", 9.5)).toDF("id", "name", "score")
        .write.mode("append").parquet(dir)
      val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(merged.columns.toSet == Set("id", "name", "score"))
      val rows = merged.select("id", "score").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
      assert(rows(1L).isEmpty && rows(2L).isEmpty,
        "old files must backfill the new column with nulls")
      assert(rows(3L).contains(9.5))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir).getParentFile)
    }
  }
}
