package graft
package queries

import graft.operators.Multimodal
import Shared.docs

/** The `mm_*` queries: multimodal decoding and features over `documents`. */
object MmQueries extends QueryFamily("mm") {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_features", (s, d) => Multimodal.features(docs(s, d)), Multimodal.sqlFeatures),
    QuerySpec("mm_frames", (s, d) => Multimodal.frameSamples(docs(s, d), 64),
      Multimodal.sqlFrameSamples(64)),
    QuerySpec("mm_decode", (s, d) => Multimodal.decode(docs(s, d)), Multimodal.sqlDecode),
    QuerySpec("mm_pixels", (s, d) => Multimodal.pixels(docs(s, d)), Multimodal.sqlPixels),
    QuerySpec("mm_downsample", (s, d) => Multimodal.downsample(docs(s, d)),
      Multimodal.sqlDownsample),
    QuerySpec("mm_png_pixels", (s, d) => Multimodal.pngPixels(docs(s, d)), Multimodal.sqlPngPixels),
    QuerySpec("mm_wav", (s, d) => Multimodal.wav(docs(s, d)), Multimodal.sqlWav),
    QuerySpec("mm_phash", (s, d) => Multimodal.phash(docs(s, d)), Multimodal.sqlPhash),
    QuerySpec("mm_phash_groups", (s, d) => Multimodal.phashGroups(docs(s, d)),
      Multimodal.sqlPhashGroups),
    QuerySpec("mm_rgb_hist", (s, d) => Multimodal.rgbHistogram(docs(s, d)),
      Multimodal.sqlRgbHistogram),
    QuerySpec("mm_wav_hist", (s, d) => Multimodal.wavHistogram(docs(s, d)),
      Multimodal.sqlWavHistogram),
  )
}
