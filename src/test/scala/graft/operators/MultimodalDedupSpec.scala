package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.DedupGates

/** Cross-modal dedup composition (`dedup_multimodal`): the octet-chain
  * fixture makes each modality's edge set a DIFFERENT partial view of
  * the true cluster — these tests pin that (a) each single-modality
  * pass alone splits the octet exactly as planted, and (b) only the
  * union of all four recovers the full component. The video link (5–6)
  * is deliberately the hardest variant pair: doc 6 is a truncated
  * re-encode of doc 5's clip, so exact-byte dedup misses it and the
  * band fingerprint's prefix invariance is what carries the edge.
  */
class MultimodalDedupSpec extends SparkSpec {
  import spark.implicits._

  // 4 complete octets — enough to show the structure, spec-fast
  private lazy val corpus =
    DedupGates.mmCorpus(spark, (0L until 32L).toDF("doc_id"))

  private def components(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("text edges alone find exactly the planted text pairs (0-1, 3-4, 6-7 per octet)") {
    val got = DedupGates.mmTextPairs(corpus).as[(Long, Long)].collect().toSet
    val want = (0L until 4L).flatMap(s =>
      Seq((8 * s, 8 * s + 1), (8 * s + 3, 8 * s + 4),
        (8 * s + 6, 8 * s + 7))).toSet
    assert(got === want)
  }

  test("image edges alone find exactly the planted raster pairs (1-2, 4-5 per octet)") {
    val got = DedupGates.mmImagePairs(corpus).as[(Long, Long)].collect().toSet
    val want = (0L until 4L).flatMap(s =>
      Seq((8 * s + 1, 8 * s + 2), (8 * s + 4, 8 * s + 5))).toSet
    assert(got === want)
  }

  test("audio edges alone find exactly the planted fingerprint pairs (2-3 per octet)") {
    val got = DedupGates.mmAudioPairs(corpus).as[(Long, Long)].collect().toSet
    val want = (0L until 4L).map(s => (8 * s + 2, 8 * s + 3)).toSet
    assert(got === want)
  }

  test("video edges alone find exactly the truncated-re-encode pairs (5-6 per octet)") {
    // doc 6 has different BYTES (re-encoded frame rate) and fewer
    // frames than doc 5 — only the banded frame-hash sequence links them
    val got = DedupGates.mmVideoPairs(corpus).as[(Long, Long)].collect().toSet
    val want = (0L until 4L).map(s => (8 * s + 5, 8 * s + 6)).toSet
    assert(got === want)
  }

  test("any single modality SPLITS the octet; the union recovers it whole") {
    val text = DedupGates.mmTextPairs(corpus)
    val img = DedupGates.mmImagePairs(corpus)
    val aud = DedupGates.mmAudioPairs(corpus)
    val vid = DedupGates.mmVideoPairs(corpus)
    // text-only: {0,1}, {3,4}, {6,7} — docs 2 and 5 unreached
    val tc = components(text)
    assert(tc(1L) === 0L && tc(4L) === 3L && tc(7L) === 6L &&
      !tc.contains(2L) && !tc.contains(5L))
    // image-only: {1,2} and {4,5}
    val ic = components(img)
    assert(ic(2L) === 1L && ic(5L) === 4L && !ic.contains(0L) && !ic.contains(6L))
    // audio-only: {2,3}
    val ac = components(aud)
    assert(ac(3L) === 2L && !ac.contains(0L) && !ac.contains(5L))
    // video-only: {5,6} — dropping video splits {0..5} from {6,7}
    val vc = components(vid)
    assert(vc(6L) === 5L && !vc.contains(0L) && !vc.contains(7L))
    val withoutVideo = components(text.unionByName(img).unionByName(aud))
    assert(withoutVideo(5L) === 0L && withoutVideo(7L) === 6L,
      "dropping the video modality must split the octet at the 5-6 link")
    // union of all four: every doc of octet s labels to 8s
    val uc = components(text.unionByName(img).unionByName(aud).unionByName(vid))
    for (d <- 0L until 32L)
      assert(uc(d) === 8 * (d / 8), s"doc $d in component ${uc(d)}")
  }

  test("partial tail octets chain into prefix components (the oracle's formula)") {
    // 18 docs = 2 full octets + tail {16, 17} (positions 0, 1 — text pair)
    val tail = DedupGates.mmCorpus(spark, (0L until 18L).toDF("doc_id"))
    val pairs = DedupGates.mmTextPairs(tail)
      .unionByName(DedupGates.mmImagePairs(tail))
      .unionByName(DedupGates.mmAudioPairs(tail))
      .unionByName(DedupGates.mmVideoPairs(tail))
    val uc = components(pairs)
    for (d <- 0L until 18L)
      assert(uc(d) === 8 * (d / 8), s"doc $d in component ${uc(d)}")
  }
}
