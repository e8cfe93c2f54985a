package graft.ops

import org.apache.spark.sql.Dataset

/** The local fast path shared by the iterative fits (BPE, connected components,
  * IVF and PQ k-means): an input of at most `MaxRows` rows is collected once and
  * fitted on the driver instead of paying one or more distributed jobs per round.
  * This is the adaptive-threshold contract of a broadcast join: ~1M rows is tens
  * of MB, so the cap bounds driver memory, never the corpus (a web-scale vocab,
  * edge set or embedding table exceeds it and takes the distributed loop
  * unchanged). Each fit's spec pins local == distributed on the same input.
  */
private[ops] object LocalFit {

  val MaxRows: Int = 1 << 20

  /** All rows of `ds` when it has at most `max` of them, from one bounded
    * `limit(max + 1)` job; None when it has more, or when `max <= 0` (the
    * distributed path forced, without a job).
    */
  def collectIfSmall[T](ds: Dataset[T], max: Int): Option[Array[T]] =
    if (max <= 0) None
    else Some(ds.limit(max + 1).collect()).filter(_.length <= max)
}
