package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

/** Test-side readers of raw IVF and side-channel state. The specs that
  * inspect what a compaction left on disk call them on [[Similarity]];
  * store code reads through [[StoreRoot]] instead.
  */
package object operators {

  implicit class RawStoreReads(private val s: Similarity.type)
      extends AnyVal {

    /** A parquet table that may not exist or may be an emptied
      * directory: None in both cases.
      */
    def readParquetIfAny(spark: SparkSession, path: String)
        : Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(path)
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        None
      else try Some(spark.read.parquet(path))
      catch {
        case e: AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
      }
    }

    /** The index's coarse quantizer, sorted by cell id. */
    def readCentroids(spark: SparkSession,
        indexPath: String): Array[(Long, Seq[Double])] =
      s.readCentroids(s.ivfRoot(spark, indexPath, "readCentroids"))
  }
}
