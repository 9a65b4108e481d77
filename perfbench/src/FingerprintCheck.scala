package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Self-check of the output fingerprint: it must not depend on row order,
  * partitioning, column order or the last bits of a double, and must
  * change when a value, a row or a row's multiplicity changes. Exits 1
  * with the failed property named, 0 when all hold.
  *
  * Usage: perfbench.FingerprintCheck
  */
object FingerprintCheck {
  def main(argv: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(2, "perfbench-fingerprint-check")
    val observed = new Harness.Observed
    spark.listenerManager.register(observed)
    val base = spark.range(0, 2000).selectExpr(
      "id", "cast(id % 7 as string) AS s", "cast(id as double) * 0.1 AS d",
      "IF(id % 11 = 0, NULL, id * 3) AS n",
      "array(cast(id as double) * 0.5, cast(id as double) * 0.25) AS arr",
      "map(cast(id % 3 as string), cast(id as double) * 1.5, 'k', cast(2 as double)) AS m",
      "named_struct('x', cast(id as double) * 0.3, 'y', cast(id as string)) AS st")
    def fp(df: DataFrame): (Long, Long) = {
      val (rows, hash) = Harness.fingerprintAggs(df.schema)
      val r = df.agg(rows, hash).head()
      (r.getLong(0), r.getLong(1))
    }
    def observedFp(df: DataFrame): (Long, Long) = {
      Harness.fingerprinted(df, "check").write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graft.GraftSql.drainListenerBus(spark)
      observed.got.remove("check")
    }
    val ref = fp(base)
    val same = Seq(
      "row order" -> base.orderBy(desc("id")),
      "partitioning" -> base.repartition(7, col("s")),
      "column order" -> base.select(base.columns.reverse.map(col): _*),
      "double last-bit noise" -> base.withColumn("d", col("d") * (lit(1.0) + lit(1e-15))),
      "negative zero" -> base.withColumn("d", when(col("id") === 0, lit(-0.0)).otherwise(col("d"))),
      "map entry order" -> base.withColumn("m",
        map(lit("k"), lit(2.0), (col("id") % 3).cast("string"), col("id").cast("double") * 1.5)))
    val differ = Seq(
      "changed value" -> base.withColumn("n", when(col("id") === 5, lit(-1L)).otherwise(col("n"))),
      "dropped row" -> base.filter(col("id") =!= 17),
      "duplicated row" -> base.union(base.filter(col("id") === 17)),
      "changed array element" -> base.withColumn("arr",
        when(col("id") === 9, array(lit(4.5), lit(9.0))).otherwise(col("arr"))))
    val failures =
      same.collect { case (what, df) if fp(df) != ref => s"fingerprint changed under $what" } ++
      differ.collect { case (what, df) if fp(df) == ref => s"fingerprint unchanged by $what" } ++
      (if (observedFp(base.orderBy("id")) != ref) Seq("observed fingerprint != aggregate") else Nil)
    spark.stop()
    if (failures.isEmpty) println(s"fingerprint check passed: ${same.size + differ.size + 1} properties")
    else {
      failures.foreach(f => System.err.println(s"FAIL: $f"))
      sys.exit(1)
    }
  }
}
