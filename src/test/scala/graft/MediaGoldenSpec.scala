package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Jpeg, Multimodal => MM}

/** Golden bytes for every media writer: the SHA-256 of each writer's
  * output over fixed parameter sets that turn on each layout flag. The
  * round-trip keys only check that a writer and its reader agree; these
  * pins catch a writer that drifts together with its reader. */
class MediaGoldenSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def gray(v: Int): Int = (v << 16) | (v << 8) | v
  private def jpegs(w: Int, h: Int, n: Int, seed: Int, gray420: Int): Seq[Array[Byte]] =
    (0 until n).map { f =>
      Jpeg.encode(w, h, (x, y) => gray((seed + (y / 8) * 3 + x / 8 + f) % 200),
        gray = gray420 == 0, subsample420 = gray420 == 1)
    }

  private val writers: Seq[(String, () => Array[Byte])] = Seq(
    "bmp 3x2" -> (() => MM.bmpImage(3, 2, (x, y) => (x * 80) << 16 | (y * 90) << 8 | (x + y))),
    "bmp 7x5" -> (() => MM.bmpImage(7, 5, (x, y) => gray((x * 31 + y * 17) % 256))),
    "png rgb seed 0" -> (() => MM.pngImage(6, 5, (x, y) => gray(x * 40 + y), alpha = false, filterSeed = 0)),
    "png rgba seed 1" -> (() => MM.pngImage(6, 5, (x, y) => (x * 40) << 16 | y << 8 | 7, alpha = true, filterSeed = 1)),
    "png rgb seed 2" -> (() => MM.pngImage(5, 6, (x, y) => gray((x * y * 13) % 256), alpha = false, filterSeed = 2)),
    "png rgba seed 3" -> (() => MM.pngImage(5, 6, (x, y) => gray((x + y * 5) % 256), alpha = true, filterSeed = 3)),
    "png rgb seed 4" -> (() => MM.pngImage(4, 7, (x, y) => (y * 30) << 16 | (x * 60) << 8 | 200, alpha = false, filterSeed = 4)),
    "gif plain" -> (() => MM.gifImage(9, 7, (x, y) => (x * 28 + y * 3) % 256)),
    "gif interlaced" -> (() => MM.gifImage(6, 11, (x, y) => (x + y * 23) % 256, interlaced = true)),
    "gif comment" -> (() => MM.gifImage(40, 30, (x, y) => (x * y) % 256, comment = true)),
    "gif interlaced comment" -> (() => MM.gifImage(13, 9, (x, y) => (x * 7 + y) % 256,
      interlaced = true, comment = true)),
    "wav pcm16 mono" -> (() => MM.wavPcm16(8000, 1, Array.tabulate(100)(i => (i * 331 - 16000).toShort))),
    "wav pcm16 stereo junk" -> (() => MM.wavPcm16(44100, 2,
      Array.tabulate(64)(i => (if (i % 2 == 0) -i * 500 else i * 7).toShort), junkChunk = true)),
    "wav ulaw mono" -> (() => MM.wavUlaw(8000, 1, Array.tabulate(64)(i => (i - 32) * 997))),
    "wav ulaw stereo junk odd" -> (() => MM.wavUlaw(11025, 3,
      Array.tabulate(33)(i => if (i % 2 == 0) 1980 else -3004), junkChunk = true)),
    "wav adpcm spb 65" -> (() => MM.wavImaAdpcm(8000, Array.tabulate(130)(i => (i / 65) * 9000 - 4000 + i))),
    "wav adpcm spb 7 odd" -> (() => MM.wavImaAdpcm(16000, Array.tabulate(21)(i => i * i * 50 - 7000), spb = 7)),
    "avi raw" -> (() => MM.aviRawVideo(5, 3, 3, (f, x, y) => gray((f * 40 + x * 9 + y) % 256))),
    "avi raw junk" -> (() => MM.aviRawVideo(4, 4, 2, (f, x, y) => (f + x) << 16 | y << 8 | 3, junk = true)),
    "avi mjpeg" -> (() => MM.aviMjpegVideo(9, 6, jpegs(9, 6, 3, 11, 0))),
    "avi mjpeg junk audio" -> (() => MM.aviMjpegVideo(8, 5, jpegs(8, 5, 2, 23, 1),
      junk = true, audioStream = true)),
    "avi mjpeg audio first" -> (() => MM.aviMjpegVideo(10, 9, jpegs(10, 9, 3, 37, 2),
      audioFirst = true)),
    "mp4 spc 1" -> (() => MM.mp4MjpegVideo(9, 6, jpegs(9, 6, 3, 5, 0), timescale = 90000,
      sampleDelta = 3000)),
    "mp4 spc 2 co64" -> (() => MM.mp4MjpegVideo(8, 5, jpegs(8, 5, 5, 13, 1), timescale = 90000,
      sampleDelta = 3750, samplesPerChunk = 2, co64 = true)),
    "mp4 spc 3 audio" -> (() => MM.mp4MjpegVideo(10, 9, jpegs(10, 9, 4, 19, 2), timescale = 600,
      sampleDelta = 20, samplesPerChunk = 3, audioTrack = true)),
    "mp4 co64 audio single" -> (() => MM.mp4MjpegVideo(4, 4, jpegs(4, 4, 1, 3, 0), timescale = 1000,
      sampleDelta = 40, co64 = true, audioTrack = true)),
    "fmp4 2 per fragment" -> (() => MM.mp4FragmentedMjpeg(9, 6, jpegs(9, 6, 5, 29, 0),
      timescale = 90000, sampleDelta = 3000)),
    "fmp4 3 per fragment" -> (() => MM.mp4FragmentedMjpeg(8, 5, jpegs(8, 5, 4, 31, 1),
      timescale = 90000, sampleDelta = 3000, framesPerFragment = 3)),
    "jpeg baseline gray" -> (() => Jpeg.encode(13, 9, (x, y) => gray((x * 19 + y * 7) % 256), gray = true)),
    "jpeg baseline 444" -> (() => Jpeg.encode(11, 8, (x, y) => (x * 23) << 16 | (y * 29) << 8 | 90)),
    "jpeg baseline 420" -> (() => Jpeg.encode(17, 15, (x, y) => (y * 17) << 16 | (x * 15) << 8 | 40,
      subsample420 = true)),
    "jpeg baseline 422 restart" -> (() => Jpeg.encode(20, 10, (x, y) => gray((x * y) % 256),
      subsample422 = true, restartInterval = 2)),
    "jpeg progressive gray" -> (() => Jpeg.encode(12, 10, (x, y) => gray((x * 21 + y) % 256),
      gray = true, progressive = true)),
    "jpeg progressive 420" -> (() => Jpeg.encode(18, 14, (x, y) => (x * 14) << 16 | (y * 18) << 8 | 128,
      subsample420 = true, progressive = true)))

  private val golden: Map[String, String] = Map(
    "bmp 3x2" -> "c6d88b809f96557217a05e9cb86cd0d86fabc49b4466d9229156e81194101718",
    "bmp 7x5" -> "e848f892a6b2a39a652e4ef9b76385988aed828473c9c2af417512e5b275ffd1",
    "png rgb seed 0" -> "a6517373c47b3ecc6551554c85f43ceabcffad9a2806101a0623dd042ed587a4",
    "png rgba seed 1" -> "d076e56c15f76a945c7ecaa55b805382e3d44b716be402627bdcbf12420b723f",
    "png rgb seed 2" -> "15c6bc9bd6405c9b5a37faf84f4f2c82cd876b074c341ff3a4df282633477f6f",
    "png rgba seed 3" -> "4231c224d667171aa22fab4f2877ec21ee632d7a8c39a2d90a3901322bf441f1",
    "png rgb seed 4" -> "94b23dce66b793c9c3b804d327fe4a3f72c76d6b98ff2f6775a943f730bbba54",
    "gif plain" -> "3b53b526ff763c2893f79a038c2f5830c25e0b907f00cb60a9602a4bb48ad728",
    "gif interlaced" -> "312f395e180f2834a574023c7f56f962b644197a1ed7da7e09f7cd2eb417f614",
    "gif comment" -> "ac4479c3063595a39aa2bb7af97e347b9ca6ca00e7e26c450c2e9dd2f1c19753",
    "gif interlaced comment" -> "497883c20943f5a72e646815c644e5965fe74171e3850b8893984dec1db86c76",
    "wav pcm16 mono" -> "50e78baa22a043358413c6853d807aa8c7ccd521a44493f2249007d7de356e55",
    "wav pcm16 stereo junk" -> "bebaf94464020688ac6212e92a51642e433c9bb4bfb3b5915346ac5f55e01760",
    "wav ulaw mono" -> "ae4c4340a59f1c4b52978ed5961506f200ac7d85d18083b499452ad8ce75fe64",
    "wav ulaw stereo junk odd" -> "eb5ebaafaba470cb4f9f1c89549f8784c796be5c9460d3023de3e5d8ee8efaa4",
    "wav adpcm spb 65" -> "1015fbe3bd1dc7dcf9772b0076908964bf46a3ddf804a53121e68859484825b4",
    "wav adpcm spb 7 odd" -> "b27c92a84723ce771985d40b1ef01e9ba29ae2b75382b5387418beff1b794b9b",
    "avi raw" -> "d84527d7281d5e4c45c34087643eb40196183df40aac361084b5c6d884e64c35",
    "avi raw junk" -> "4f55d3809e8b2e0f07891ff01c19865dcf9117f3e262eced396ae663322a969e",
    "avi mjpeg" -> "44ff0fc48d3369768bb40cecb27ecef14d0f2b53af250c8fed7f28e7ccbde489",
    "avi mjpeg junk audio" -> "cc513971ae22eab1ed2599423214217f4ca5e8c9ca6e118c65bc2d06d15b623e",
    "avi mjpeg audio first" -> "07dd0965c988f9d1186aa424faaf9c5b91ad022bea69ebc131fa3d7fbae5b563",
    "mp4 spc 1" -> "897c4bf608f79ff8661d75fc42b47533814a5489d8c53e20e7828a5d11f8eb84",
    "mp4 spc 2 co64" -> "e635293040ed7ba0a4c33687feeec692f124cb88a4181d9384655a4fab9b6094",
    "mp4 spc 3 audio" -> "3c99f76b4a5d6dc710baabae7bc51034415967d4b2e81b85ee0f87f071f78b64",
    "mp4 co64 audio single" -> "c27a4c041d92c22656688efe4946db46a6d215df8d8cc4157bac25fb843fb256",
    "fmp4 2 per fragment" -> "a57ab3529c5990224c009e95766cb1f36bc229aac425694f2157799c6470b4cb",
    "fmp4 3 per fragment" -> "db7c5d25142e1b63893525c47f0e2a706635cd7af387cff09dc2993d016bec65",
    "jpeg baseline gray" -> "c58f3b18c9961f94e0b5b91fc0dcb5fca6e2b81b1219277c4cbaf63d4aaa623d",
    "jpeg baseline 444" -> "6cb952a0c1d09100fada8b647c59608bf5691eb4c45bdc6233d9068238adef81",
    "jpeg baseline 420" -> "634059a2a585556e48baecbacbe775fa98ea5bd26688ee09ccc5261d681db489",
    "jpeg baseline 422 restart" -> "4493acf2fdcc5b27e2f388821db6d4001763d62b38ccbe8cacaeacef766f80ab",
    "jpeg progressive gray" -> "b8ca6059c7eeace17b6b6833adc4454d3719dbf32916e2062111b061f1f2052f",
    "jpeg progressive 420" -> "65f534f3e3fc3d72ba034559361af25f68073430bed46daa42e8e65930280c16")

  test("every media writer keeps its golden bytes") {
    val got = writers.map { case (name, w) => name -> sha256(w()) }
    val drifted = got.filter { case (name, h) => !golden.get(name).contains(h) }
    assert(drifted.isEmpty, drifted.map { case (n, h) => s"\"$n\" -> \"$h\"," }
      .mkString("writer output drifted:\n", "\n", ""))
  }

  test("the golden set names every writer case once") {
    assert(writers.map(_._1).distinct.length == writers.length)
    assert(golden.keySet == writers.map(_._1).toSet)
  }
}
