package graft

import org.apache.spark.sql.SparkSession

import graft.service.{SumGrpcServer, SumService}

/** The daemon entry point — the reference's `sumd` (cmd/sumd/main.go):
  * start a Spark session, stand up [[graft.service.SumService]] with the
  * canonical oracles registered, and serve `sum.SumService` over gRPC on
  * one loopback port until killed. Pair with
  * `graft.Cli --connect 127.0.0.1:8585` for the sumcli topology.
  *
  * {{{
  *   sbt "runMain graft.Serve 8585"         # or SPARK_GRAFT_PORT
  *   echo "info" | sbt "runMain graft.Cli --connect 127.0.0.1:8585"
  * }}}
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_PORT").map(_.toInt))
      .getOrElse(8585)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_CREDS mirrors sumd's -creds flag (cmd/sumd/main.go:32):
    // a directory with cert.pem + key.pem; when set, the socket serves TLS.
    val creds = sys.env.get("SPARK_GRAFT_CREDS")
    val server = new SumGrpcServer(SumService(spark), port, creds)
    server.start()
    println(s"graft serving sum.SumService at 127.0.0.1:${server.boundPort}" +
      creds.map(c => s" (tls creds $c)").getOrElse(""))
    sys.addShutdownHook { server.stop(); spark.stop() }
    Thread.currentThread.join()
  }
}
