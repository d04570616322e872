package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (the reference's session-scoped
  * pytest fixture — tests/conftest.py:6-29).
  */
object LocalSpark {
  lazy val spark: SparkSession =
    graft.core.Graft.localSession(4, appName = "graft-test")
}

abstract class SparkSpec extends AnyFlatSpec with Matchers {
  lazy val spark: SparkSession = LocalSpark.spark

  /** Port of the reference's DataFrameFactory (tests/conftest.py:56-139):
    * each row is the base document with per-row overrides.
    */
  def makeDF(schema: StructType, base: Map[String, Any],
      snippets: Seq[Map[String, Any]]): DataFrame = {
    val rows = snippets.map { snippet =>
      val merged = base ++ snippet
      Row.fromSeq(schema.fields.toSeq.map(f => merged.getOrElse(f.name, null)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, numSlices = 1), schema)
  }

  /** Ids of the RDDs persisted right now (checkpoint blocks included). */
  def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `op`, reads its result, unpersists it, and returns the ids of
    * the persisted RDDs that appeared during the call and are still there
    * — empty when the result was all the call left behind. Compared by id,
    * not by count: driver GC may unpersist an older RDD meanwhile.
    */
  def residueOf(op: => DataFrame): Set[Int] = {
    val before = persistedIds
    val out = op
    out.collect()
    out.unpersist(true)
    persistedIds -- before
  }

  /** Unordered DataFrame comparison on selected columns. */
  def rowsOf(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.head, cols.tail: _*).collect()
      .map(_.toSeq).toSet
}
