package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

/** `Tables.load` resolves each table's schema once and reuses it until
  * the table changes, so building a query over it runs no Spark job.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Writes `df` as ONE parquet file at `dir/name.parquet` (the shape of
    * the generated testdata tables), replacing whatever is there.
    */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val parts = Files.createTempDirectory(dir, "parts")
    df.coalesce(1).write.mode("overwrite").parquet(parts.toString)
    val part = Files.list(parts).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("a second load of the same table runs no Spark job") {
    val dir = Files.createTempDirectory("graft-tables")
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "region")
    Tables.load(spark, dir.toString, "region")
    val (df, jobs) = jobsOf(Tables.load(spark, dir.toString, "region").schema)
    assert(jobs == 0, s"second load ran $jobs Spark jobs")
    assert(df.fieldNames.toSeq == Seq("k", "v"))
  }

  test("the events ts probe reads the memoized schema") {
    val dir = Files.createTempDirectory("graft-tables")
    writeTable(Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
      .toDF("event_id", "ts"), dir, "events")
    Tables.events(spark, dir.toString)
    val (df, jobs) = jobsOf(Tables.events(spark, dir.toString))
    assert(jobs == 0, s"second events load ran $jobs Spark jobs")
    assert(df.schema("ts").dataType == TimestampType)
  }

  test("a memoized load returns the schema and rows of a fresh spark.read.parquet") {
    val dir = Files.createTempDirectory("graft-tables")
    writeTable(Seq((1L, "x", 2.5), (2L, null, -1.0), (3L, "z", 0.0)).toDF("k", "s", "d"),
      dir, "part")
    Tables.load(spark, dir.toString, "part")
    val memo = Tables.load(spark, dir.toString, "part")
    val fresh = spark.read.parquet(dir.resolve("part.parquet").toString)
    assert(memo.schema == fresh.schema)
    assert(rows(memo) == rows(fresh))
  }

  test("a table rewritten at the same path with a new schema is resolved again") {
    val dir = Files.createTempDirectory("graft-tables")
    writeTable(Seq((1L, "a")).toDF("k", "v"), dir, "nation")
    assert(Tables.load(spark, dir.toString, "nation").schema("k").dataType == LongType)

    writeTable(Seq(("x", "y", "z")).toDF("k", "v", "w"), dir, "nation")
    val after = Tables.load(spark, dir.toString, "nation")
    assert(after.schema.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(after.schema("k").dataType == StringType)
    assert(rows(after) == Seq(Seq("x", "y", "z")))
    // and the new schema is the one memoized from then on
    val (again, jobs) = jobsOf(Tables.load(spark, dir.toString, "nation").schema)
    assert(jobs == 0 && again == after.schema)
  }
}
