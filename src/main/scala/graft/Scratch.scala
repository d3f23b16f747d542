package graft

import org.apache.spark.sql.SparkSession

/** Per-query scratch paths under `target/scratch`, one naming scheme
  * for every entry object: `<stem>_<key(dir)>`.
  */
private[graft] object Scratch {

  /** Path key for a data dir: every character outside `[0-9a-zA-Z]`
    * becomes `_`. Also names build-or-reuse artifacts and temp views,
    * which must survive between runs and so never go through [[fresh]].
    */
  def key(dir: String): String = dir.replaceAll("[^0-9a-zA-Z]", "_")

  /** `target/scratch/<stem>_<key(dir)>`, emptied of whatever an earlier
    * run left there.
    */
  def fresh(s: SparkSession, stem: String, dir: String): String = {
    val path = s"target/scratch/${stem}_${key(dir)}"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }
}
