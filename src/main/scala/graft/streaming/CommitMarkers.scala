package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The `commits/<batchId>` markers a `foreachBatch` sink writes under
  * its state directory once a batch has fully landed. A new checkpoint
  * restarts batchIds at 0, so a sink that gates on its markers scopes
  * them with the checkpoint's [[AnnStream.lineageOf]] token
  * (`commits/<lineage>-<batchId>`); an empty lineage is the unscoped
  * marker.
  */
private[streaming] object CommitMarkers {

  private def marker(dir: String, batchId: Long, lineage: String): Path =
    if (lineage.isEmpty) new Path(s"$dir/commits/$batchId")
    else new Path(s"$dir/commits/$lineage-$batchId")

  def committed(df: DataFrame, dir: String, batchId: Long, lineage: String = ""): Boolean = {
    val p = marker(dir, batchId, lineage)
    p.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).exists(p)
  }

  def markCommitted(df: DataFrame, dir: String, batchId: Long, lineage: String = ""): Unit = {
    val p = marker(dir, batchId, lineage)
    p.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      .create(p, true).close()
  }
}
