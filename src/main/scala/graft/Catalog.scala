package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}

import org.apache.spark.sql.SparkSession

/** The one build memo: trained codebooks, written layouts and shared
  * checkpointed tables, each built once per (kind, params, Spark
  * application, input CONTENT). The content part is a Hadoop-FS
  * fingerprint of every file under `$dir/<table>.parquet` (path,
  * length, mtime), so a corpus rewritten in place — same directory,
  * new files — is a miss and rebuilds, while an untouched corpus is a
  * hit. The application id keeps session-bound values (checkpointed
  * DataFrames, scratch layouts) from outliving their SparkContext.
  *
  * Queries and their DuckDB twins call the same named build
  * functions, so a twin reads the build its query used — or pays for
  * it itself when dumped first: twins are independent of run order.
  *
  * Each entry is a once-cell filled OUTSIDE the map's compute, so a
  * build may call getOrBuild for its own inputs (a nested
  * computeIfAbsent throws "Recursive update"); concurrent callers of
  * one key wait for the single build. A failed build is dropped, and
  * the next caller retries it. */
object Catalog {
  private case class Key(kind: String, params: Seq[Any], appId: String,
      inputs: Seq[(String, Long, Long)])

  private val cells = new ConcurrentHashMap[Key, CompletableFuture[Any]]()

  /** Build-or-reuse the `kind` artifact over `tables` of corpus `dir`.
    * `params` must be plain values (numbers, strings) — they are part
    * of the key and compare by equality. */
  def getOrBuild[T](kind: String, s: SparkSession, dir: String,
      tables: Seq[String], params: Any*)(build: => T): T = {
    val key = Key(kind, params.toSeq, s.sparkContext.applicationId,
      fingerprint(s, dir, tables))
    val mine = new CompletableFuture[Any]()
    cells.putIfAbsent(key, mine) match {
      case null =>
        try {
          val v = build
          mine.complete(v)
          v
        } catch {
          case e: Throwable =>
            cells.remove(key, mine)
            mine.completeExceptionally(e)
            throw e
        }
      case other =>
        try other.join().asInstanceOf[T]
        catch { case e: java.util.concurrent.CompletionException => throw e.getCause }
    }
  }

  /** (path, length, mtime) of every file under each input table,
    * sorted — a missing table contributes nothing. */
  private def fingerprint(s: SparkSession, dir: String,
      tables: Seq[String]): Seq[(String, Long, Long)] =
    tables.sorted.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val st = it.next()
          b += ((st.getPath.toString, st.getLen, st.getModificationTime))
        }
        b.result().sortBy(_._1)
      }
    }
}
