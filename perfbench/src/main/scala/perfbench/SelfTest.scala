package perfbench

import org.apache.spark.sql.functions._

import graft.util.Sessions

/** The fingerprint must see a one-row change: same rows in another order
  * and partitioning match, a perturbed value or a dropped row does not. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.get("perfbench-selftest", s"local[${Main.Cores}]", Main.Cores)
    try {
      import spark.implicits._
      val base = (1 to 1000).map(i => (i.toLong, s"k${i % 17}", i * 0.5, Map("m" -> i)))
        .toDF("id", "key", "x", "m")
      val fp = Main.fingerprint(base)
      val checks = Seq(
        "reordered and repartitioned rows match" ->
          (Main.fingerprint(base.orderBy(desc("x")).repartition(7)) == fp),
        "one perturbed value differs" ->
          (Main.fingerprint(base.withColumn("x",
            when(col("id") === 500, col("x") + 1e-9).otherwise(col("x")))) != fp),
        "one dropped row differs" ->
          (Main.fingerprint(base.filter(col("id") =!= 500)) != fp),
        "one duplicated row differs" ->
          (Main.fingerprint(base.union(base.filter(col("id") === 500))) != fp),
      )
      checks.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} fingerprint: $name") }
      if (!checks.forall(_._2)) sys.exit(1)
    } finally spark.stop()
  }
}
