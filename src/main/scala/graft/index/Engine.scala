package graft.index

/**
 * Index engine family — the typed form of the `engine` string that
 * `BuildParams` takes and `metadata.json` persists (the reference keeps one
 * `BoundIndex` subtype per engine). The string is mapped here and nowhere
 * else; serve and maintenance code tests the capabilities below.
 *
 *  - `graph`: shards are `.diskann`/`.hnsw` graph files served via ShardCache;
 *  - `coarse`: a coarse quantizer partitions rows by `cluster`
 *    (centroids.bin, nlist/nprobe);
 *  - `codes`: what the parquet table stores per row instead of (or, with
 *    RFlat, beside) the raw vector.
 */
sealed abstract class Engine(val name: String, val graph: Boolean,
    val coarse: Boolean, val codes: Engine.Codes) extends Serializable {
  /** Whether `_distance` is the declared metric's distance (to the stored
   *  vector or its reconstruction); LSH ranks by Hamming distance. */
  def metricDistances: Boolean = codes != Engine.Codes.Lsh
  /** Whether stored codes decode back to vectors (sign codes do not; an
   *  RFlat LSH index still reconstructs from its raw-vector copy). */
  def reconstructs: Boolean = codes != Engine.Codes.Lsh
  override def toString: String = name
}

object Engine {
  sealed trait Codes
  object Codes {
    case object Raw extends Codes   // the float vector itself
    case object Pq extends Codes    // product-quantizer bytes (residuals under IVF)
    case object Sq extends Codes    // per-dimension scalar levels
    case object Lsh extends Codes   // binary sign codes
  }

  case object Flat extends Engine("flat", graph = false, coarse = false, Codes.Raw)
  case object IvfFlat extends Engine("ivfflat", graph = false, coarse = true, Codes.Raw)
  case object IvfPq extends Engine("ivfpq", graph = false, coarse = true, Codes.Pq)
  case object IvfSq extends Engine("ivfsq", graph = false, coarse = true, Codes.Sq)
  case object Pq extends Engine("pq", graph = false, coarse = false, Codes.Pq)
  case object Lsh extends Engine("lsh", graph = false, coarse = false, Codes.Lsh)
  case object Diskann extends Engine("diskann", graph = true, coarse = false, Codes.Raw)
  case object Hnsw extends Engine("hnsw", graph = true, coarse = false, Codes.Raw)

  val all: Seq[Engine] = Seq(Flat, IvfFlat, IvfPq, IvfSq, Pq, Lsh, Diskann, Hnsw)
  private val byName: Map[String, Engine] = all.map(e => e.name -> e).toMap

  def fromName(name: String): Option[Engine] = byName.get(name)

  def apply(name: String): Engine = fromName(name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown engine: $name (supported: ${all.mkString(", ")})"))
}
