package graft.tools
import java.nio.file.{Files, Paths}
/** Writes the concatenated length-delimited proto stream for sf0.001 —
  * the reference's exact output shape (`Runner.java:118`) — for
  * external round-trip validation.
  */
object ProtoDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()
    val rows = graft.operators.CellModel
      .encodeProto(spark, "/root/testdata/sf0.001")
      .select("framed").collect()
      .map(_.getAs[Array[Byte]](0))
    val out = new java.io.ByteArrayOutputStream()
    rows.foreach(out.write)
    Files.write(Paths.get(args(0)), out.toByteArray)
    println("WROTE " + rows.length + " rows, " + out.size() + " bytes")
    spark.stop()
  }
}
