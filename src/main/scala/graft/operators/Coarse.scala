package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Which corpus rows a query scores — the coarse half of
  * [[Similarity]]'s vector core ([[Codec]] is the other half). A coarse
  * stage owns the corpus assignment (one partition id per row), the
  * probe (the partition ids a query visits, in probe order), the `_meta`
  * kind and keys of its stores and the on-disk names of its columns. The
  * core calls every coarse partition a `list` — an IVF list or an LSH
  * bucket — and owns the rest: the partitioned store layout, probed-id
  * pruning and the scoring tail.
  *
  * The probe width (`nprobe`, `probes`) is a query-time setting: a write
  * reads only the geometry, so writers pass 1.
  */
private[graft] sealed trait Coarse {
  /** `_meta` kind + keys of a store of `codec` rows under this stage. */
  def meta(codec: Codec): (String, Map[String, Any])
  /** Core column → on-disk column, for a layout that predates the core. */
  def storedNames: Map[String, String] = Map.empty
}

private[graft] object Coarse {

  /** No coarse stage: every query scores every corpus row. */
  case object Scan extends Coarse {
    def meta(codec: Codec): (String, Map[String, Any]) =
      (codec.flatKind, codec.metaKeys)
  }

  /** A coarse stage that partitions the corpus into lists. */
  sealed trait Lists extends Coarse {
    /** The corpus row's one list id. */
    def assign(v: Column): Column
    /** One row per probed list (an exploded column), in probe order. */
    def probe(v: Column): Column
    /** The list id of one [[probe]] row. */
    def probedId(p: Column): Column = p
  }

  /** Inverted file: each row lives in its best-cosine centroid's list, a
    * query probes its `nprobe` best lists. Ties go to the lower list id on
    * both sides. The `_meta` keys record the list count and a centroid
    * fingerprint, so a probe presenting other centroids refuses instead of
    * silently pruning to the wrong lists.
    */
  final case class Ivf(centroids: Seq[Array[Double]], nprobe: Int)
      extends Lists {
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe must be in [1, ${centroids.size}]: $nprobe")
    def meta(codec: Codec): (String, Map[String, Any]) =
      (codec.ivfKind, Map[String, Any]("numLists" -> centroids.size,
        "centroids_md5" -> Similarity.vectorSetFingerprint(centroids)) ++
        codec.metaKeys)
    def assign(v: Column): Column = Similarity.listAssignment(v, centroids)
    /** The `nprobe` best-scored list structs, ordered by (−score, list
      * id) — the [[Similarity.listAssignment]] tie-break.
      */
    def probe(v: Column): Column = explode(slice(array_sort(array(
      Similarity.scoredListStructs(v, centroids): _*)), 1, nprobe))
    override def probedId(p: Column): Column = p.getField("l")
  }

  /** Random-hyperplane LSH: each row lives in its `planes`-bit bucket
    * ([[Similarity.lshBucket]]), a query probes its own bucket plus the
    * `probes − 1` smallest-margin flips ([[Similarity.probeBuckets]]).
    * Probe buckets are pairwise distinct and a row lives in one bucket,
    * so no candidate is scored twice. The planes are deterministic in
    * (planes, dim), so `_meta` records just those two. Stores keep the
    * layout that predates the core: partition column `bucket`, raw norm
    * column `nrm`.
    */
  final case class Lsh(planes: Int, dim: Int, probes: Int) extends Lists {
    require(probes >= 1 && probes <= planes,
      s"probes must be in [1, planes=$planes]: $probes")
    def meta(codec: Codec): (String, Map[String, Any]) =
      ("lsh", Map[String, Any]("planes" -> planes, "dim" -> dim) ++
        codec.metaKeys)
    def assign(v: Column): Column = Similarity.lshBucket(v, planes, dim)
    def probe(v: Column): Column = explode(Similarity.probeBuckets(v,
      assign(v), 0, planes, dim, probes))
    override val storedNames = Map("list" -> "bucket", "cn" -> "nrm")
  }
}
