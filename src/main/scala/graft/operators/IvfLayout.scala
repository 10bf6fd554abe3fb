package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{PqEncodeFn, Sq8 => Pack}

/** How a persisted IVF index ([[Similarity.ivfWriteIndex]] and its SQ8
  * and PQ twins) stores its cell rows, and nothing else: the stored row,
  * the vector a probe scores, and the cell an append assigns. Every
  * build, append, stream append and probe of the index goes through
  * the layout READ FROM THE INDEX ([[IvfLayout.of]]), so an append can
  * only ever write rows of the layout the index was built with.
  */
private[graft] sealed trait IvfLayout {

  /** The stored row over an assigned (id, v, cell) frame. */
  def rows(assigned: DataFrame, idCol: String): DataFrame

  /** The vector a probe scores, over a stored row. */
  def candidate: Column

  /** Append assignment: argmax of ROUND-6 centroid cosine, ties to the
    * lowest cell id (PQ), or of the raw cosine (flat, SQ8).
    */
  def roundedAssign: Boolean = false

  /** The SQ8 tier of a PQ index built `withRefine`. */
  def refineTier: Option[IvfLayout.Sq8.type] = None
}

private[graft] object IvfLayout {

  /** Raw vectors: (id, v, cell). */
  case object Flat extends IvfLayout {
    def rows(assigned: DataFrame, idCol: String): DataFrame = assigned
    def candidate: Column = col("v")
  }

  /** Scalar int8 (FAISS QT_8bit): (id, cell, scale, q) — one float32
    * scale and `dim` signed bytes packed into one binary
    * ([[graft.functions.Sq8.PackSQ8]]), [[Embeddings.quantizeInt8]]'s
    * rule. The probe dequantizes inline (code·scale/127).
    */
  case object Sq8 extends IvfLayout {
    def rows(assigned: DataFrame, idCol: String): DataFrame =
      packed(assigned, Seq(idCol, "cell"))
    def candidate: Column =
      Pack.unpackSq8(col("q"), col("scale").cast("double"))
    // the payload a re-rank reads
    def columns: Seq[String] = Seq("q", "scale")

    // the quantized `keep` columns + (scale as float32, q packed)
    def packed(df: DataFrame, keep: Seq[String]): DataFrame =
      Embeddings.int8Rows(df, keep, col("v"))
        .select(keep.map(col) :+ col("scale").cast("float").as("scale") :+
          Pack.packSq8(col("q")).as("q"): _*)
  }

  /** Product-quantized: (id, cell, codes) — the `m` codes against the
    * `model` codebooks ([[Embeddings.pqTrain]]) packed into one m-byte
    * binary; with `refine`, each row also carries the [[Sq8]] payload
    * (scale, q) the refine probes re-rank against. The probe scores the
    * PQ reconstruction (scale 127 makes the unpack an identity).
    */
  final case class Pq(model: DataFrame, refine: Boolean) extends IvfLayout {
    def rows(assigned: DataFrame, idCol: String): DataFrame = {
      val codes = Pack.packSq8(PqEncodeFn.pqEncode(
        col("v").cast("array<double>"),
        Embeddings.pqModel(model).map(_.map(_._2)))).as("codes")
      if (!refine) assigned.select(col(idCol), col("cell"), codes)
      else Sq8.packed(assigned.select(col(idCol), col("cell"), codes,
        col("v")), Seq(idCol, "cell", "codes"))
    }
    def candidate: Column = Embeddings.pqDecode(
      transform(Pack.unpackSq8(col("codes"), lit(127.0)), _.cast("int")),
      model)
    override def roundedAssign: Boolean = true
    override def refineTier: Option[Sq8.type] = if (refine) Some(Sq8) else None
  }

  /** The layout of the index at `indexPath`, read from the `cells`
    * schema (a footer read, no data scan) — from the deltas' when the
    * base holds no rows. Fails loudly on an index with no rows at all.
    */
  def of(root: StoreRoot): IvfLayout = {
    val stored = root.side("cells").orElse(root.side("deltas"))
    require(stored.nonEmpty, s"no cells or deltas under ${root.path} to " +
      "read the storage layout from - rebuild the index")
    of(root, stored.get.columns)
  }

  /** The layout of stored rows with `columns`. */
  def of(root: StoreRoot, columns: Seq[String]): IvfLayout =
    if (columns.contains("codes"))
      Pq(root.read("pqmodel"), columns.contains("q"))
    else if (columns.contains("q")) Sq8
    else Flat
}
