package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.ml.{SyntheticTaxi, Trainer}
import graft.serve.Json
import graft.util.Sessions

/** Records what a benchmark run must reproduce: each gate's fingerprint,
  * with the result dumped as parquet next to its oracle SQL so that
  * tools/check.py can confirm the recorded results against DuckDB, and the
  * reference-config model's RMSE and MAE bits. Prints one
  * `PERFBENCH-RECORD {...}` line. */
object Record {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Sessions.get("perfbench-record", s"local[${Main.Cores}]", Main.Cores)
    try {
      val gates = opts("gates").split(",").toSeq
      val out = opts("out")
      Files.createDirectories(Paths.get(out))
      val fps = gates.map { g =>
        val df = SparkEntry.queries(g)(spark, opts("data"))
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$g")
        val (n, h) = Main.fingerprint(df)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        s"${Json.quote(g)}:[$n,${Json.quote(h)}]"
      }
      def obj(kv: Iterable[(String, String)]) =
        kv.map { case (k, v) => s"${Json.quote(k)}:${Json.quote(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        obj(SparkEntry.oracleSql.filter(e => gates.contains(e._1))))
      Files.writeString(Paths.get(s"$out/oracle_iter.json"),
        SparkEntry.iterativeOracles.filter(e => gates.contains(e._1)).map { case (k, o) =>
          def arr(xs: Seq[String]) = xs.map(Json.quote).mkString("[", ",", "]")
          s"${Json.quote(k)}:{" + s""""setup":${arr(o.setup)},"loop":${arr(o.loop)},""" +
            s""""fixpoint":${Json.quote(o.fixpoint)},"max_rounds":${o.maxRounds},""" +
            s""""final":${Json.quote(o.finalSql)}}"""
        }.mkString("{", ",", "}"))

      val taxi = SyntheticTaxi.frame(spark, opts("train_rows").toLong).coalesce(Main.Cores).cache()
      val (_, m) = Trainer.trainFareModel(taxi, "",
        Trainer.TrainConfig(sampleFraction = 1.0, maxRows = 0))
      def bits(d: Double) = java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
      println("PERFBENCH-RECORD " + s"""{"fingerprints":${fps.mkString("{", ",", "}")},""" +
        s""""train":${obj(Seq("rmse" -> m.rmse.toString, "mae" -> m.mae.toString,
          "rmse_bits" -> bits(m.rmse), "mae_bits" -> bits(m.mae)))}}""")
    } finally spark.stop()
  }
}
