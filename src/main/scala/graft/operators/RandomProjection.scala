package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection with a DETERMINISTIC,
  * engine-replayable sign matrix — the embedding-compression primitive
  * that sits in front of clustering/ANN when 64–4096-dim vectors are
  * too wide to shuffle: project to k ≪ d with a ±1 matrix (Achlioptas'
  * database-friendly construction — sign entries preserve pairwise
  * distances in expectation like Gaussians do, but the projection is
  * pure adds/subtracts).
  *
  * Scale shape: the matrix is k·d literals BROADCAST into whole-stage
  * codegen ([[projectExpr]]) — the projection is a pure map-side
  * expression, ONE corpus scan, zero shuffle, zero UDF. At 100 TB this
  * is the cheapest possible operator shape; the downstream win is
  * every later shuffle moving k/d of the bytes. The engine's earlier
  * `emb_random_projection` gate (VectorsGates) states the same algebra
  * as an explode + (vec, out-dim)-keyed aggregate — n·d·k rows through
  * a shuffle; this operator exists because that shuffle is pure waste
  * when k·d literals fit in a codegen'd expression (they do until both
  * are thousands), and the gate pair documents the trade.
  *
  * Determinism: entry (j, k) is the PARITY OF THE FIRST HEX CHARACTER
  * of md5("salt:j:k") — standard MD5 of an ASCII string, computed
  * identically by the JVM's MessageDigest here and by any SQL engine's
  * md5() in the oracle (`emb_rand_proj` hash-replays the projection in
  * DuckDB). No JVM RNG: a seeded `new Random(seed)` stream is
  * JDK-version-defined but not SQL-replayable, and content-stable
  * operators elsewhere in this engine (Sampling, Dedup) already
  * standardize on md5.
  */
object RandomProjection {

  private val EvenHex = "02468ace".toSet

  /** +1.0 when the first hex char of md5("salt:j:k") is an even digit,
    * else −1.0 — exactly replayable in SQL as
    * `substr(md5(salt || ':' || j || ':' || k), 1, 1) IN ('0','2',...)`.
    */
  def signAt(salt: String, j: Int, k: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$j:$k".getBytes("UTF-8"))
    // first hex char = high nibble of byte 0
    val hex = "0123456789abcdef".charAt((d(0) >> 4) & 0xf)
    if (EvenHex(hex)) 1.0 else -1.0
  }

  /** k rows × dim columns of ±1; row r is the projection direction for
    * output dimension r.
    */
  def signMatrix(dim: Int, k: Int, salt: String): Array[Array[Double]] = {
    require(dim >= 1 && k >= 1, s"need dim, k >= 1; got dim=$dim k=$k")
    Array.tabulate(k, dim)((r, j) => signAt(salt, j, r))
  }

  /** array<double> of length k: out[r] = Σ_j vec[j] · M[r][j], each
    * inner sum folded left-to-right from 0.0 (SQL `+` parity). A NULL
    * element contributes 0; a NULL vector projects to NULL; a vector
    * whose length differs from the matrix width RAISES — zip_with would
    * otherwise NULL-pad the short side and coalesce would quietly
    * project a truncated dot product, the silent-wrong-answer failure
    * the sibling operators (QualityModel.trainGD) also refuse. Unscaled
    * on purpose — for integer-quantized inputs every output is an
    * EXACT integer (the gate regime); callers wanting the JL-normalized
    * embedding divide by √k themselves (one exact-replayable IEEE op
    * only when k is a power of four; document the engine drift
    * otherwise).
    *
    * NOTE: `vec` is referenced k+2 times in the generated expression
    * (one zip_with per output dim, plus the null/size guards), and
    * interpreted higher-order lambdas share no subexpressions — pass a
    * PLAIN COLUMN (materialize any quantize/normalize transform in its
    * own select first), or that transform re-runs once per output dim.
    */
  def projectExpr(vec: Column, matrix: Array[Array[Double]]): Column = {
    require(matrix.nonEmpty, "empty projection matrix")
    val dim = matrix.head.length
    require(matrix.forall(_.length == dim), "ragged projection matrix")
    val dims = matrix.map { row =>
      aggregate(
        zip_with(vec, typedLit(row.toSeq),
          (x, m) => coalesce(x, lit(0.0)) * m),
        lit(0.0), (acc, t) => acc + t)
    }
    when(vec.isNull, lit(null).cast("array<double>"))
      .when(size(vec) === dim, array(dims.toIndexedSeq: _*))
      .otherwise(raise_error(concat(
        lit(s"RandomProjection.projectExpr: vector of length "),
        size(vec),
        lit(s" != matrix width $dim — a truncated projection would be " +
          "silently wrong; fix the featurizer or rebuild the matrix"))))
  }
}
