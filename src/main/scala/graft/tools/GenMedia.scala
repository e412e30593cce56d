package graft.tools

import org.apache.spark.sql.functions._

/** Scratch fixture generator (not part of the driver contract): a
  * mixed-media parquet table for pipeline-scale CurateMedia runs —
  * built once and reused (e.g. 2 M docs from the sf100 documents
  * table). One real container per doc
  * (MJPEG / MP4 / MP3 / ADTS round-robin by doc_id % 4) over the
  * document text's 16-byte chunks, so the near-dup family structure
  * the documents table plants (LSH families) carries into frame-set
  * space.
  *
  * Usage: run_tool.sh graft.tools.GenMedia <sfDir> <outParquet>
  *        [maxDocs] [repeat]
  */
object GenMedia {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenMedia <sfDir> <out> [maxDocs] [repeat]")
    val dir = args(0)
    val out = args(1)
    val maxDocs = if (args.length > 2) args(2).toLong else 0L
    val repeat = if (args.length > 3) args(3).toInt else 1
    val spark = graft.GraftSession.create("gen-media")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.operators.{AudioHeaders, VideoContainers}

    val docs0 = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val docs = if (maxDocs > 0) docs0.filter(col("doc_id") < maxDocs) else docs0
    val t0 = System.nanoTime()
    docs.as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val base = (0 until bytes.length / 16).map(f =>
          java.util.Arrays.copyOfRange(bytes, f * 16, f * 16 + 16))
        val chunks = Seq.fill(repeat)(base).flatten
        val payload = (id % 4) match {
          case 0 => VideoContainers.mjpegFixture(8, chunks)
          case 1 => VideoContainers.mp4Fixture((id % 16 + 1).toInt,
            (id % 12 + 1).toInt, 90000L, 3600L, chunks)
          case 2 => AudioHeaders.mp3Fixture(chunks)
          case _ => AudioHeaders.adtsFixture(chunks)
        }
        (id, payload)
      }
      .toDF("doc_id", "media")
      .write.mode("overwrite").parquet(out)
    val sec = (System.nanoTime() - t0) / 1e9
    val st = spark.read.parquet(out)
      .agg(count(lit(1)), sum(length(col("media")))).head
    println(f"""{"stage":"gen_media","docs":${st.getLong(0)},"payload_mb":${st.getLong(1) / 1048576},"sec":$sec%.1f}""")
    spark.stop()
  }
}
