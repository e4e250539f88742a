package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Stats {
  /** Linear-interpolated quantile of unsorted values; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** The read mix over the standing `orders` table: four query classes, each
  * through the path face (`format("graft").load(dir)`) and the catalog
  * face (`GraftCatalog`). A read runs to the end of `collect()`, which
  * computes every output column (results are at most [[Reads.RangeKeys]]
  * rows), and returns the rows so the caller can check them. */
final class Reads(spark: SparkSession, tableDir: String, catalogTable: String,
                  customerDir: String) {
  import Reads._

  def table(face: String): DataFrame = face match {
    case "path" => spark.read.format("graft").load(tableDir)
    case "catalog" => spark.table(catalogTable)
  }

  def customer: DataFrame = spark.read.parquet(customerDir)

  /** Query `cls` over `t`; `p` is the key parameter of point and range. */
  def query(cls: String, t: DataFrame, p: Long): DataFrame = cls match {
    case "point" => t.filter(col("order_key") === p).select(Columns.map(col): _*)
    case "range" => t.filter(col("order_key").between(p, p + RangeKeys - 1))
      .select(Columns.map(col): _*)
    case "agg" => t.groupBy("status").agg(count(lit(1)).as("n"),
      countDistinct("customer_id").as("n_customers"),
      sum(col("total_amount").cast("decimal(12,2)")).as("amount"))
    case "join" =>
      val c = customer
      t.join(c, t("customer_id") === c("c_custkey")).groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
        sum(col("total_amount").cast("decimal(12,2)")).as("amount"))
  }

  /** The execution of the last read, for the traced run's scan metrics. */
  @volatile var lastExecution: AnyRef = null

  def rows(cls: String, face: String, p: Long): Seq[String] = {
    val df = query(cls, table(face), p)
    lastExecution = df.queryExecution
    rowsOf(df)
  }

  /** The same query over the reference parquet. */
  def expected(cls: String, p: Long, reference: DataFrame): Seq[String] =
    rowsOf(query(cls, reference, p))
}

object Reads {
  val Classes: Seq[String] = Seq("point", "range", "agg", "join")
  val Faces: Seq[String] = Seq("path", "catalog")
  val RangeKeys = 2000L
  /** The columns the model knows and every check compares. */
  val Columns: Seq[String] = Seq("order_key", "customer_id", "order_date", "status",
    "total_amount", "shipping_address", "kafka_offset")

  val ModelSchema: StructType = StructType(Seq(
    StructField("order_key", LongType), StructField("customer_id", IntegerType),
    StructField("order_date", LongType), StructField("status", StringType),
    StructField("total_amount", StringType), StructField("shipping_address", StringType),
    StructField("kafka_offset", LongType)))

  def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  /** Write the model's latest state as plain parquet: the reference every
    * check compares the engine's table with. */
  def writeModel(spark: SparkSession, rows: Seq[Gen.Row], dir: String): DataFrame = {
    val data = rows.map(r => Row(r.orderKey, r.customerId, r.orderDate, r.status,
      r.totalAmount, r.shippingAddress, r.kafkaOffset))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), ModelSchema)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Seeded customer dimension: key, segment. */
  def writeCustomers(spark: SparkSession, seed: Long, dir: String): Unit =
    spark.range(1, Gen.Customers + 1, 1, 2)
      .select(col("id").as("c_custkey"),
        element_at(typedLit(Gen.Segments.toSeq),
          (pmod(xxhash64(col("id"), lit(seed)), lit(Gen.Segments.length.toLong)) + 1).cast("int"))
          .as("c_mktsegment"))
      .write.mode("overwrite").parquet(dir)

  /** Row count and order-insensitive checksum over the compared columns. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(Columns.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(Columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
