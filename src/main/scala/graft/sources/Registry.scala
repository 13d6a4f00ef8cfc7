package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S3/C1: the reference's node-registry JSON source and scatter-gather
  * command runner, Spark-native.
  *
  *  - [[readRemotesJson]] loads a `remotes.json`-shaped file
  *    (/root/reference/remotes.json.example: an object name → credentials)
  *    via `spark.read.json` with the outer object exploded to rows — the
  *    dynamic-schema path (`MapType` explode, SURVEY §1 #1).
  *  - [[CommandRunner]] is the C1 fan-out engine: `mapPartitions` over the
  *    node set with a pluggable executor — tests inject a pure function;
  *    production would SSH. `return_exceptions=True` semantics
  *    (/root/reference/cluster.py:147-148) become Try-columns, never a
  *    thrown task error.
  *
  * Scale: nodes are rows, so a 10 000-node fleet fans out at whatever
  * parallelism the partitioning gives; results are rows that pipeline into
  * the parse operators without leaving executors.
  */
object Registry {

  case class NodeInfo(name: String, host: String, port: Int, user: String, password: String)
  case class CmdResult(node: String, command: String, stdout: String,
                       stderr: String, exit_status: Int)

  /** Read a remotes.json registry: `{"n1": {"host": ...}, "n2": ...}`. */
  def readRemotesJson(spark: SparkSession, path: String): DataFrame =
    nodeRows(spark.read.option("multiLine", true).json(path))

  /** The same rows from the registry's JSON text. */
  def remotesFromJson(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    nodeRows(spark.read.json(Seq(json).toDS()))
  }

  /** One column per node name, each a struct — stacked to rows. */
  private def nodeRows(raw: DataFrame): DataFrame = {
    val names = raw.schema.fieldNames.sorted
    val stacked = names.map { n =>
      struct(lit(n).as("name"),
        col(s"`$n`.host").as("host"), col(s"`$n`.port").cast("int").as("port"),
        col(s"`$n`.user").as("user"), col(s"`$n`.password").as("password"))
    }
    raw.select(explode(array(stacked: _*)).as("node")).select("node.*")
  }

  /** C1 fan-out: run `command` on every node through `exec`, one partition
    * at a time. Errors stay as values (C3).
    */
  def runOnAll(nodes: Dataset[NodeInfo], command: String)
              (exec: (NodeInfo, String) => (String, String, Int)): Dataset[CmdResult] = {
    import nodes.sparkSession.implicits._
    nodes.mapPartitions { it =>
      it.map { n =>
        try {
          val (out, err, status) = exec(n, command)
          CmdResult(n.name, command, out, err, status)
        } catch {
          case e: Exception => CmdResult(n.name, command, "", e.getMessage, 255)
        }
      }
    }
  }

  /** Pure, deterministic stand-in executors for the SSH layer — injected
    * into [[runOnAll]] so the fan-out engine itself is oracle-verifiable
    * (the production executor would open a connection; these compute the
    * same row shapes from node fields alone).
    */
  object PureExec {

    /** Port-22 nodes answer; anything else refuses the connection (the
      * thrown error becomes a C3 error-value row, exit 255).
      */
    def sshFixture(n: NodeInfo, cmd: String): (String, String, Int) =
      if (n.port == 22) (s"$cmd: ok from ${n.name}@${n.host}", "", 0)
      else throw new RuntimeException(s"connect to ${n.host}:${n.port} refused")

    private def h24(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 6), 16)
    }

    /** Deterministically flaky fleet: nodes whose h24(name) % 10 == 0 fail
      * (mirrors `return_exceptions=True` gathering at fleet scale).
      */
    def sshFlaky(n: NodeInfo, cmd: String): (String, String, Int) =
      if (h24(n.name) % 10 == 0)
        throw new RuntimeException(s"ssh: connection to ${n.host} failed")
      else (s"$cmd: up 42 days on ${n.name}", "", 0)
  }
}
