package graft

import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The on-disk manifest format of every index family, pinned byte for
  * byte: a persisted index must stay readable by the next build, and the
  * next build must write what the last one read. Per family: golden
  * strings for the encoder, a decode of the golden string back to the
  * manifest, and one LEGACY string per optional key — the golden string
  * without that key, as a manifest written before the tier existed — which
  * must decode to the key's documented default. Pure file ops: no
  * SparkSession. */
class ManifestFormatSpec extends AnyFunSuite {

  private def encoded(m: IndexTier.Manifest): String = IndexTier.encodeManifest(m)

  private def storeWith(name: String, json: String): TableStore = {
    val store = new TableStore(
      java.nio.file.Files.createTempDirectory("manifest-format").toString)
    store.commitFile(s"${name}_manifest", "manifest.json",
      json.getBytes(StandardCharsets.UTF_8), None)
    store
  }

  /** `json` as written before `key` existed. */
  private def without(json: String, key: String): String = {
    val out = json.replaceAll("\"" + key + "\":[^,}]*,?", "").replace(",}", "}")
    assert(out !== json, s"$key not in $json")
    out
  }

  test("signature-index manifest: golden bytes, round trip, legacy defaults") {
    val full = SignatureIndex.SigManifest(3, 4, 5, 5, 64, 16, 100L, 2L, 7L,
      rm = Some(6), hasQuality = true, dlt = Some(8), nDelta = 9L)
    val golden = """{"sigs_v":3,"pos_v":4,"band_v":5,"rm_v":6,"dlt_v":8,""" +
      """"shingle_n":5,"num_hashes":64,"bands":16,"has_quality":1,""" +
      """"n_live":100,"n_rm":2,"n_dlt":9,"last_batch_id":7}"""
    assert(encoded(full) === golden)
    assert(encoded(full.copy(rm = None, hasQuality = false, dlt = None)) ===
      """{"sigs_v":3,"pos_v":4,"band_v":5,"rm_v":-1,"dlt_v":-1,""" +
        """"shingle_n":5,"num_hashes":64,"bands":16,"has_quality":0,""" +
        """"n_live":100,"n_rm":2,"n_dlt":9,"last_batch_id":7}""")
    def read(json: String) = SignatureIndex.readManifest(storeWith("c", json), "c").get._1
    assert(read(golden) === full)
    assert(read(without(golden, "dlt_v")) === full.copy(dlt = None))
    assert(read(without(golden, "n_dlt")) === full.copy(nDelta = 0L))
    assert(read(without(golden, "has_quality")) === full.copy(hasQuality = false))
  }

  test("perceptual-index manifest: golden bytes, round trip, legacy defaults") {
    val full = PerceptualIndex.PercManifest(2, 6, 11L, hasQuality = true,
      rmSigs = Some(1), band = Some(3), dlt = Some(4))
    val golden = """{"sigs_v":2,"max_hamming":6,"has_quality":1,"rm_sigs_v":1,""" +
      """"band_v":3,"dlt_v":4,"last_batch_id":11}"""
    assert(encoded(full) === golden)
    assert(encoded(PerceptualIndex.PercManifest(2, 6, band = Some(3))) ===
      """{"sigs_v":2,"max_hamming":6,"has_quality":0,"rm_sigs_v":-1,""" +
        """"band_v":3,"dlt_v":-1,"last_batch_id":-1}""")
    def read(json: String) =
      PerceptualIndex.readManifest(storeWith("img", json), "img").get._1
    assert(read(golden) === full)
    assert(read(without(golden, "band_v")) === full.copy(band = None))
    assert(read(without(golden, "dlt_v")) === full.copy(dlt = None))
    assert(read(without(golden, "rm_sigs_v")) === full.copy(rmSigs = None))
    assert(read(without(golden, "has_quality")) === full.copy(hasQuality = false))
  }

  test("frame-index manifest: golden bytes, round trip, legacy defaults") {
    val full = FrameIndex.FrameManifest(2, 4, 0.8, 5L, rmFrames = Some(1),
      hasQuality = true, band = Some(3), dlt = Some(4))
    val golden = """{"frames_v":2,"max_hamming":4,"min_containment":0.8,""" +
      """"has_quality":1,"rm_frames_v":1,"band_v":3,"dlt_v":4,"last_batch_id":5}"""
    assert(encoded(full) === golden)
    assert(encoded(FrameIndex.FrameManifest(2, 4, 1.0)) ===
      """{"frames_v":2,"max_hamming":4,"min_containment":1.0,""" +
        """"has_quality":0,"rm_frames_v":-1,"band_v":-1,"dlt_v":-1,""" +
        """"last_batch_id":-1}""")
    def read(json: String) = FrameIndex.readManifest(storeWith("vid", json), "vid").get._1
    assert(read(golden) === full)
    assert(read(golden.replace("0.8", "0.75")) === full.copy(minContainment = 0.75))
    assert(read(without(golden, "band_v")) === full.copy(band = None))
    assert(read(without(golden, "dlt_v")) === full.copy(dlt = None))
    assert(read(without(golden, "rm_frames_v")) === full.copy(rmFrames = None))
    assert(read(without(golden, "has_quality")) === full.copy(hasQuality = false))
  }

  test("ivf manifest: golden bytes, round trip, legacy overlay defaults") {
    val full = IvfIndex.IvfManifest(1, 2, Some(3), None, Some(4), 9L,
      ovlVectors = Some(5), ovlQvectors = Some(7), ovlPqCodes = Some(6))
    val golden = """{"centroids_v":1,"vectors_v":2,"qvectors_v":3,""" +
      """"pq_codebook_v":-1,"pq_codes_v":4,"ovl_vectors_v":5,""" +
      """"ovl_qvectors_v":7,"ovl_pq_codes_v":6,"last_batch_id":9}"""
    assert(encoded(full) === golden)
    def read(json: String) = IvfIndex.readManifest(storeWith("emb", json), "emb").get._1
    assert(read(golden) === full)
    assert(read(without(golden, "ovl_vectors_v")) === full.copy(ovlVectors = None))
    assert(read(without(golden, "ovl_qvectors_v")) === full.copy(ovlQvectors = None))
    assert(read(without(golden, "ovl_pq_codes_v")) === full.copy(ovlPqCodes = None))
  }

  test("postings manifest: golden bytes, round trip, legacy overlay defaults") {
    val full = PostingsIndex.BmManifest(1, 2, 3, 40L, 1234L, -1L,
      ovlPostings = Some(4), ovlDocs = Some(6), dltTermStats = Some(5))
    val golden = """{"postings_v":1,"docs_v":2,"termstats_v":3,"n_docs":40,""" +
      """"sum_dl":1234,"ovl_postings_v":4,"ovl_docs_v":6,""" +
      """"dlt_termstats_v":5,"last_batch_id":-1}"""
    assert(encoded(full) === golden)
    assert(encoded(full.copy(ovlDocs = None)) === golden.replace("6", "-1"))
    def read(json: String) = PostingsIndex.readManifest(storeWith("bm", json), "bm").get._1
    assert(read(golden) === full)
    assert(read(without(golden, "ovl_postings_v")) === full.copy(ovlPostings = None))
    assert(read(without(golden, "ovl_docs_v")) === full.copy(ovlDocs = None))
    assert(read(without(golden, "dlt_termstats_v")) === full.copy(dltTermStats = None))
  }

  test("corpus-profile manifest: golden bytes, round trip, legacy build_k") {
    val full = CorpusProfile.ProfileManifest(Some(1), None, Some(2), 3L, buildK = 64)
    val golden = """{"kmv_v":1,"lvl_v":-1,"cms_v":2,"last_batch_id":3,"build_k":64}"""
    assert(encoded(full) === golden)
    def read(json: String) = CorpusProfile.readManifest(storeWith("p", json), "p").get._1
    assert(read(golden) === full)
    // pre-r14 manifest: k unknown
    assert(read(without(golden, "build_k")) === full.copy(buildK = -1))
  }
}
