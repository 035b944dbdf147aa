package graft

import org.apache.spark.sql.functions._

import graft.functions.WeightedQuantile
import graft.operators.Skew
import graft.streaming.MemoryDrain.runToMemory
import graft.streaming.StreamOps

/** Specs for the capability extensions: weighted quantiles (both forms
  * agree), SQL registration of native expressions, skew salting
  * (results identical to unsalted), and session windows (stream ==
  * batch).
  */
class CapabilitySpec extends SparkSpecBase {
  import spark.implicits._

  test("weighted quantile: Aggregator (single-pass) == window form") {
    val df = Tables.lineitem(spark, sf)
      .select(col("l_suppkey"), col("l_extendedprice").as("v"),
        col("l_quantity").as("w"))
    val windowed = WeightedQuantile.weightedQuantileByWindow(
      df, Seq("l_suppkey"), col("v"), col("w"), Seq("wmed" -> 0.5))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val typed = df.as[(Long, Double, Double)]
      .map { case (k, v, w) => (k, WeightedQuantile.VW(v, w)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(WeightedQuantile.weightedQuantile(0.5))
      .collect().toMap
    assert(typed.keySet == windowed.keySet)
    typed.foreach { case (k, v) =>
      assert(v == windowed(k), s"suppkey $k: aggregator $v vs window ${windowed(k)}")
    }
  }

  test("weighted quantile with weight 1 equals unweighted lower quantile") {
    val df = Seq.tabulate(100)(i => ("g", (i + 1).toDouble, 1.0))
      .toDF("g", "v", "w")
    val out = WeightedQuantile.weightedQuantileByWindow(
      df, Seq("g"), col("v"), col("w"), Seq("med" -> 0.5)).head()
    assert(out.getDouble(1) == 50.0) // smallest v with cum >= 50
  }

  test("dot_product registers as a SQL function on an existing session") {
    GraftExtensions.register(spark)
    val v = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    assert(v == 11.0)
  }

  test("cosine_sim SQL matches the Column-level Similarity.cosine") {
    GraftExtensions.register(spark)
    val sqlV = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d, 0.0d), array(2.0d, 4.0d, 1.0d))")
      .head().getDouble(0)
    import spark.implicits._
    val colV = Seq((Array(1.0, 2.0, 0.0), Array(2.0, 4.0, 1.0)))
      .toDF("a", "b")
      .select(operators.Similarity.cosine(col("a"), col("b")))
      .head().getDouble(0)
    assert(sqlV == colV) // bit-identical: same expression tree
    assert(math.abs(sqlV - 10.0 / (math.sqrt(5) * math.sqrt(21))) < 1e-12)
  }

  test("count_in_set / plane_project register as SQL functions and " +
    "match their Column forms") {
    GraftExtensions.register(spark)
    // count_in_set: literal word set, null elements skipped, null array null
    val c = spark.sql(
      "SELECT count_in_set(array('the', 'x', NULL, 'of'), 'the', 'of', 'a')")
      .head().getLong(0)
    assert(c == 2L)
    assert(spark.sql("SELECT count_in_set(CAST(NULL AS ARRAY<STRING>), 'a')")
      .head().isNullAt(0))
    val sqlScore = spark.sql(
      "SELECT count_in_set(split(lower('The of and THE'), ' '), 'the', 'of')")
      .head().getLong(0)
    val colScore = Seq("The of and THE").toDF("t")
      .select(functions.TextFunctions.countInSet(
        split(lower(col("t")), " "), Seq("the", "of")))
      .head().getLong(0)
    assert(sqlScore == 3L && sqlScore == colScore)
    // non-literal word set must be rejected, not silently mis-planned
    intercept[Exception] {
      spark.sql("SELECT count_in_set(array('a'), rand()::string)").collect()
    }
    // plane_project: SQL == Column form bit-for-bit (same expression)
    val sqlP = spark.sql(
      "SELECT plane_project(array(0.5d, -1.0d, 2.0d), 3)")
      .head().getDouble(0)
    val colP = Seq(Array(0.5, -1.0, 2.0)).toDF("v")
      .select(functions.VectorFunctions.planeProject(col("v"), 3))
      .head().getDouble(0)
    assert(sqlP == colP)
  }

  test("ArrayCountInSetExpr interpreted eval matches codegen") {
    // spark.sql.codegen.wholeStage=false (or fallback) routes through
    // nullSafeEval — pin that path against the codegen result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(Array[Any](
      UTF8String.fromString("the"), null, UTF8String.fromString("of"),
      UTF8String.fromString("xyz"), UTF8String.fromString("the")))
    val e = functions.ArrayCountInSetExpr(
      Literal.create(arr, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
      Seq("the", "of"))
    assert(e.eval(null) == 3L)
    val sqlV = spark.sql(
      "SELECT count_in_set(array('the', NULL, 'of', 'xyz', 'the'), 'the', 'of')")
      .head().getLong(0)
    assert(sqlV == 3L)
  }

  test("saltedSum equals plain sum on every key") {
    val df = Tables.events(spark, sf)
    val plain = df.groupBy("event_type")
      .agg(sum(col("value").cast(functions.Exact.DecimalT)).cast("double")
        .as("sum"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Skew.saltedSum(df, Seq("event_type"), col("value"),
      col("event_id"), salts = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == plain)
  }

  test("saltedJoin equals plain inner join") {
    val facts = Tables.events(spark, sf).select("event_id", "user_id")
    val dim = Tables.events(spark, sf).select("user_id").distinct()
      .withColumn("tag", concat(lit("u"), col("user_id")))
    val plain = facts.join(dim, "user_id").count()
    val salted = Skew.saltedJoin(facts, dim, "user_id",
      col("event_id"), salts = 4).count()
    assert(salted == plain)
  }

  test("session windows: stream equals batch on the same input") {
    val stagedDir = {
      val dir = java.nio.file.Files.createTempDirectory("events_sess")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/events.parquet"),
        dir.resolve("events.parquet"))
      dir.toString
    }
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    def normalize(df: org.apache.spark.sql.DataFrame) =
      graft.Tables.normalizeEventTs(df)
    val streamed = runToMemory(
      StreamOps.sessionAgg(
        normalize(StreamOps.fileStream(spark, stagedDir, schema)),
        "ts", "user_id", "value", "2 hours"),
      "session_out",
      // session windows only support Append/Complete; Complete emits
      // every session regardless of watermark progress
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val batch = StreamOps.sessionAgg(normalize(
      spark.read.parquet(s"$sf/events.parquet")),
      "ts", "user_id", "value", "2 hours")
    assert(streamed.count() == batch.count())
    val diff = streamed.alias("s").join(batch.alias("b"),
        Seq("session_start", "user_id"))
      .filter(col("s.n") =!= col("b.n")).count()
    assert(diff == 0)
  }
}
