package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.operators._
import Tables.{t, tp}
import TextCuration.{qualityFilterOracle, qualityFilterOracleFrom}

/** Binary and document format decoders: archives and codecs,
  * executables, ML artifacts, office/mail/markup documents, WARC and
  * the crawl-to-curation chains built on them.
  */
object Formats {

  def specs: Seq[QuerySpec] = Seq(
    // ----- REAL ZIP central-directory walk: per doc a genuine ZIP
    // (local headers + central dir + EOCD, true CRC32s, stored and
    // deflated members mixed) listed back entry by entry — the
    // archive-unwrap step crawl ingest needs before text ops can run
    QuerySpec("q_zip_entries",
      // the directory walk must read back exactly the planted entry
      // set: names, methods (odd deflated), and byte sizes
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents)
         SELECT doc_id,
           'f' || t.j || '.txt' AS entry_name,
           CAST(CASE WHEN t.j % 2 = 1 THEN 8 ELSE 0 END AS INT)
             AS method,
           CAST(strlen('e' || t.j || ':' || txt) AS BIGINT) AS u_size
         FROM p, LATERAL unnest(generate_series(0, n - 1)) AS t(j)""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val zips = Archive.synthZips(d, "doc_id", "__t", "__n",
        "content")
      Archive.zipEntryRows(zips, "doc_id", "content")
        .select(col("doc_id"), col("entry_name"), col("method"),
          col("u_size"))
    }),
    // ----- REAL 7z container walk: per doc a genuine .7z (signature
    // + CRC-checked headers, one folder per member, true member
    // CRC32s, store/LZMA2/deflate coders mixed) listed back entry by
    // entry, with `ok` proving extraction reproduced the declared
    // CRC — the second archive-unwrap tier after ZIP
    QuerySpec("q_7z_entries",
      // the 7z walk must read back exactly the planted member set —
      // names, coder chain cycling store/lzma2/deflate by (id+j)%3,
      // byte sizes — and every extraction must CRC-verify (ok = true)
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents)
         SELECT doc_id,
           'm' || t.j || '.dat' AS entry_name,
           CASE (doc_id + t.j) % 3 WHEN 0 THEN 'store'
             WHEN 1 THEN 'lzma2' ELSE 'deflate' END AS method,
           CAST(strlen('s' || t.j || ':' || txt) AS BIGINT)
             AS u_size,
           TRUE AS ok
         FROM p, LATERAL unnest(generate_series(0, n - 1)) AS t(j)""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val szs = SevenZip.synthSevenZips(d, "doc_id", "__t", "__n",
        "content")
      SevenZip.sevenZipEntryRows(szs, "doc_id", "content")
        .select(col("doc_id"), col("entry_name"), col("method"),
          col("u_size"), col("ok"))
    }),
    // ----- NumPy .npy triage (the public NEP-1 / numpy
    // lib/format.py layout): six planted array kinds cycling by
    // doc — i8/f8-matrix/bool/big-endian-i4-v2/fortran-u2/scalar —
    // replayed with exact integer sums; NpySpec pins the parser
    // against fixtures numpy 1.26.4 itself wrote
    QuerySpec("q_npy_meta",
      // the npy walk must replay every planted array kind: version,
      // descr, order, shape and the exact integer sum
      """WITH p AS (SELECT doc_id, CAST(doc_id % 6 AS INT) AS k
           FROM documents)
         SELECT doc_id,
           CASE k WHEN 3 THEN '2.0' ELSE '1.0' END AS npy_version,
           CASE k WHEN 0 THEN '<i8' WHEN 1 THEN '<f8'
             WHEN 2 THEN '|b1' WHEN 3 THEN '>i4'
             WHEN 4 THEN '<u2' ELSE '<i8' END AS descr,
           (k = 4) AS fortran,
           CASE k WHEN 1 THEN 2 WHEN 4 THEN 2 WHEN 5 THEN 0
             ELSE 1 END::INT AS ndim,
           CASE k
             WHEN 0 THEN CAST(doc_id % 7 + 3 AS VARCHAR)
             WHEN 1 THEN '2x' || CAST(doc_id % 5 + 2 AS VARCHAR)
             WHEN 2 THEN CAST(doc_id % 9 + 4 AS VARCHAR)
             WHEN 3 THEN CAST(doc_id % 6 + 2 AS VARCHAR)
             WHEN 4 THEN '2x3' ELSE '' END AS shape,
           CASE k WHEN 0 THEN doc_id % 7 + 3
             WHEN 1 THEN 2 * (doc_id % 5 + 2)
             WHEN 2 THEN doc_id % 9 + 4
             WHEN 3 THEN doc_id % 6 + 2
             WHEN 4 THEN 6 ELSE 1 END::BIGINT AS n_elems,
           CASE k WHEN 0 THEN 8 WHEN 1 THEN 8 WHEN 2 THEN 1
             WHEN 3 THEN 4 WHEN 4 THEN 2 ELSE 8 END::INT
             AS item_size,
           CASE k
             WHEN 0 THEN (doc_id % 7 + 3) * doc_id +
               (doc_id % 7 + 3) * (doc_id % 7 + 2) / 2
             WHEN 2 THEN (doc_id % 9 + 4) // 2
             WHEN 3 THEN 3 * (doc_id % 6 + 2) *
               (doc_id % 6 + 1) / 2 + (doc_id % 6 + 2)
             WHEN 4 THEN 6 * (doc_id % 100) + 15
             WHEN 5 THEN doc_id ELSE NULL END::BIGINT AS int_sum
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ns = Npy.synthNpys(d, "doc_id", "content")
      Multimodal.decodeBatches(ns, "content",
          Npy.npySchema)(Npy.decodeNpy)
        .select(col("doc_id"), col("npy_version"), col("descr"),
          col("fortran"), col("ndim"), col("shape"),
          col("n_elems"), col("item_size"), col("int_sum"))
    }),
    // ----- .npz member walk (a ZIP of .npy members — numpy stores
    // for savez, deflates for savez_compressed; the synth plants
    // both by doc parity): three members per doc, facts replayed
    // per member through the shared ZIP reader + the npy parser
    QuerySpec("q_npz_entries",
      // every npz member must extract through the zip layer (stored
      // AND deflated) and parse to its planted facts
      """WITH p AS (SELECT doc_id, doc_id % 5 + 2 AS n
           FROM documents)
         SELECT doc_id, 'a.npy' AS member, '<i8' AS descr,
           CAST(n AS VARCHAR) AS shape, n::BIGINT AS n_elems,
           (n * doc_id + n * (n - 1))::BIGINT AS int_sum FROM p
         UNION ALL
         SELECT doc_id, 'b.npy', '<f4', '2x2', 4, NULL FROM p
         UNION ALL
         SELECT doc_id, 'c.npy', '|b1', '3', 3, 2 FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val zs = Npy.synthNpzs(d, "doc_id", "content")
      Npy.npzEntryRows(zs, "doc_id", "content")
        .select(col("doc_id"), col("member"), col("descr"),
          col("shape"), col("n_elems"), col("int_sum"))
    }),
    // ----- packet-capture triage (the public libpcap format +
    // the pcapng block grammar): classic/ng cycling by parity,
    // one truncated packet planted per doc so the truncation
    // census fires
    QuerySpec("q_pcap_meta",
      // packet counts, byte totals and the truncation census must
      // replay closed-form for both containers
      """WITH p AS (SELECT doc_id, doc_id % 5 + 1 AS n,
           doc_id % 20 AS s FROM documents)
         SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'pcap' ELSE 'pcapng' END
             AS container,
           TRUE AS little_endian, FALSE AS nanos,
           CASE WHEN doc_id % 3 = 0 THEN 'linux_sll'
             ELSE 'ethernet' END AS linktype,
           (n + 1)::BIGINT AS n_packets,
           (n * (40 + s) + 5 * n * (n - 1) + 60)::BIGINT
             AS cap_bytes,
           (n * (40 + s) + 5 * n * (n - 1) + 120)::BIGINT
             AS orig_bytes,
           CAST(1 AS BIGINT) AS n_truncated,
           1 AS n_interfaces
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ps = Pcap.synthPcaps(d, "doc_id", "content")
      Multimodal.decodeBatches(ps, "content",
          Pcap.pcapSchema)(Pcap.decodePcap)
        .select(col("doc_id"), col("container"),
          col("little_endian"), col("nanos"), col("linktype"),
          col("n_packets"), col("cap_bytes"), col("orig_bytes"),
          col("n_truncated"), col("n_interfaces"))
    }),
    // ----- X.509 certificate triage (RFC 5280 over strict DER,
    // pinned against OpenSSL-generated fixtures in X509Spec):
    // planted identities cycling RSA/EC, SANs every third doc,
    // PEM armor every fourth
    QuerySpec("q_x509_meta",
      // every planted identity must replay: serial hex exactly as
      // openssl prints it, algorithms, names, validity, SANs
      """WITH p AS (SELECT doc_id,
           1000 + doc_id % 9000 AS serial,
           2024 + doc_id % 3 AS y,
           CAST(doc_id % 2 AS INT) AS k2 FROM documents)
         SELECT doc_id, 3 AS version,
           lpad(upper(to_hex(serial)), 4, '0') AS serial_hex,
           CASE k2 WHEN 1 THEN 'ecdsa-with-SHA256'
             ELSE 'sha256WithRSAEncryption' END AS sig_alg,
           CASE k2 WHEN 1 THEN 'id-ecPublicKey'
             ELSE 'rsaEncryption' END AS pubkey_alg,
           'doc' || CAST(doc_id % 50 AS VARCHAR) || '.example'
             AS subject_cn,
           'Org ' || CAST(doc_id % 7 AS VARCHAR) AS subject_o,
           TRUE AS self_signed,
           CAST(y AS VARCHAR) || '-03-15T12:00:00Z' AS not_before,
           CAST(y + 1 + k2 AS VARCHAR) || '-03-15T12:00:00Z'
             AS not_after,
           CASE WHEN doc_id % 3 = 0 THEN k2 + 1 ELSE 0 END::INT
             AS n_san_dns,
           CASE WHEN doc_id % 3 = 0 THEN
             (SELECT string_agg('alt' || t.j || '.doc' ||
                CAST(doc_id % 50 AS VARCHAR) || '.example', ','
                ORDER BY t.j)
              FROM unnest(generate_series(0, k2)) AS t(j))
           ELSE '' END AS san_dns
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val cs = X509.synthCerts(d, "doc_id", "content")
      Multimodal.decodeBatches(cs, "content",
          X509.certSchema)(X509.decodeCert)
        .select(col("doc_id"), col("version"), col("serial_hex"),
          col("sig_alg"), col("pubkey_alg"), col("subject_cn"),
          col("subject_o"), col("self_signed"), col("not_before"),
          col("not_after"), col("n_san_dns"), col("san_dns"))
    }),
    // ----- HDF5 superblock triage (the public HDF5 file-format
    // spec; lookup3 pinned on the vectors published in lookup3.c):
    // v0/v3 superblocks cycling by parity, every fifth doc torn so
    // the EOF-address integrity fact fires
    QuerySpec("q_hdf5_meta",
      // versions, geometry and both integrity facts must replay
      """SELECT doc_id,
           CASE doc_id % 2 WHEN 0 THEN 0 ELSE 3 END::INT
             AS sb_version,
           8 AS offset_size, 8 AS length_size,
           (doc_id % 5 <> 0) AS eof_matches,
           CASE doc_id % 2 WHEN 0 THEN NULL ELSE TRUE END
             AS checksum_ok
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val hs = Hdf5.synthH5s(d, "doc_id", "content")
      Multimodal.decodeBatches(hs, "content",
          Hdf5.h5Schema)(Hdf5.decodeH5)
        .select(col("doc_id"), col("sb_version"),
          col("offset_size"), col("length_size"),
          col("eof_matches"), col("checksum_ok"))
    }),
    // ----- RPM triage (the public rpm.org/LSB package format —
    // C209's deb sibling): lead + signature/main tag headers, the
    // payload cpio walked through whichever house codec the header
    // itself declares (gzip/xz/zstd cycling by doc)
    QuerySpec("q_rpm_meta",
      // the tag headers and the codec-declared payload must replay
      """WITH p AS (SELECT doc_id,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents)
         SELECT doc_id,
           'pkg' || CAST(doc_id % 20 AS VARCHAR) AS pkg_name,
           '1.' || CAST(doc_id % 10 AS VARCHAR) AS version,
           CAST(doc_id % 5 AS VARCHAR) AS release,
           CASE WHEN doc_id % 2 = 0 THEN 'x86_64' ELSE 'noarch'
             END AS arch,
           CASE doc_id % 3 WHEN 0 THEN 'gzip' WHEN 1 THEN 'xz'
             ELSE 'zstd' END AS compressor,
           n AS n_entries,
           (SELECT string_agg('./usr/share/doc/f' || t.j, ','
              ORDER BY t.j)
            FROM unnest(generate_series(0, n - 1)) AS t(j))
             AS entry_names
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val rs = Rpm.synthRpms(d, "doc_id", "content")
      Multimodal.decodeBatches(rs, "content",
          Rpm.rpmSchema)(Rpm.decodeRpm)
        .select(col("doc_id"), col("pkg_name"), col("version"),
          col("release"), col("arch"), col("compressor"),
          col("n_entries"), col("entry_names"))
    }),
    // ----- Python .pyc census (the public importlib pyc layout +
    // the CPython 3.11 marshal grammar, tiered honestly: full
    // census only for the version this environment's CPython can
    // pin, version-only triage for other known magics): planted
    // name/const shapes with both invalidation modes cycling
    QuerySpec("q_pyc_census",
      // every planted pyc shape must replay: version, invalidation
      // mode, names, const counts
      """WITH p AS (SELECT doc_id,
           CAST(doc_id % 4 + 1 AS INT) AS n FROM documents)
         SELECT doc_id, '3.11' AS py_version,
           CASE WHEN doc_id % 2 = 1 THEN 'checked_hash'
             ELSE 'timestamp' END AS invalidation,
           CASE WHEN doc_id % 2 = 1 THEN NULL
             ELSE 100 + doc_id % 900 END::BIGINT AS source_size,
           1 AS n_code, '<module>' AS top_name,
           (SELECT string_agg('name' || t.j, ',' ORDER BY t.j)
            FROM unnest(generate_series(0, n - 1)) AS t(j))
             AS names_csv,
           (doc_id % 3 + 1)::INT AS n_consts
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ps = Pyc.synthPycs(d, "doc_id", "content")
      Multimodal.decodeBatches(ps, "content",
          Pyc.pycSchema)(Pyc.decodePyc)
        .select(col("doc_id"), col("py_version"),
          col("invalidation"), col("source_size"), col("n_code"),
          col("top_name"), col("names_csv"), col("n_consts"))
    }),
    // ----- Mach-O triage (Apple's public loader.h ABI — the
    // macOS half of the executable matrix): thin executables and
    // dylibs cycling cpu/segment/dylib shapes, every third doc a
    // two-arch FAT binary; the CAFEBABE collision with Java
    // classes resolves by file(1)'s nfat_arch rule (MachOSpec)
    QuerySpec("q_macho_meta",
      // every planted Mach-O shape must replay; a fat doc carries
      // its slice-0 facts plus the arch list
      """WITH p AS (SELECT doc_id,
           CAST(doc_id % 3 AS INT) AS k3,
           doc_id % 3 + 1 AS ns, doc_id % 2 + 1 AS nd
           FROM documents)
         SELECT doc_id,
           CASE WHEN k3 = 0 THEN 'fat' ELSE 'thin' END
             AS container,
           TRUE AS is64,
           CASE WHEN k3 = 0 THEN 'x86_64'
             WHEN doc_id % 2 = 0 THEN 'x86_64' ELSE 'arm64' END
             AS cpu,
           CASE WHEN doc_id % 5 = 0 THEN 'dylib' ELSE 'execute'
             END AS file_type,
           (ns + nd + 1)::INT AS n_cmds,
           ns::INT AS n_segments,
           CASE nd WHEN 1 THEN '/usr/lib/libfix0.dylib'
             ELSE '/usr/lib/libfix0.dylib,/usr/lib/libfix1.dylib'
             END AS dylibs,
           TRUE AS has_uuid,
           CASE WHEN k3 = 0 THEN 2 ELSE 0 END::INT AS n_archs,
           CASE WHEN k3 = 0 THEN 'x86_64,arm64' ELSE '' END
             AS archs
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ms = MachO.synthMachs(d, "doc_id", "content")
      Multimodal.decodeBatches(ms, "content",
          MachO.machSchema)(MachO.decodeMach)
        .select(col("doc_id"), col("container"), col("is64"),
          col("cpu"), col("file_type"), col("n_cmds"),
          col("n_segments"), col("dylibs"), col("has_uuid"),
          col("n_archs"), col("archs"))
    }),
    // ----- JAR triage (the public JAR file specification over the
    // shared ZIP walk): manifest main attributes with 72-byte line
    // folding, class/package censuses — executable-vs-library and
    // toolchain facts for a code-lake census
    QuerySpec("q_jar_meta",
      // the manifest (incl. the folded line) and censuses must
      // replay closed-form
      """WITH p AS (SELECT doc_id, doc_id % 3 + 1 AS np,
           doc_id % 4 + 1 AS nc FROM documents)
         SELECT doc_id, TRUE AS has_manifest,
           '1.0' AS manifest_version,
           'com.corpus.Main' || CAST(doc_id % 10 AS VARCHAR)
             AS main_class,
           'graft-fixture-toolchain-version-' ||
             CAST(doc_id % 5 AS VARCHAR) ||
             '-with-a-long-vendor-string' AS created_by,
           (np * nc)::INT AS n_classes, np::INT AS n_packages,
           (np * nc + 2)::INT AS n_members
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val js = Jar.synthJars(d, "doc_id", "content")
      Multimodal.decodeBatches(js, "content",
          Jar.jarSchema)(Jar.decodeJar)
        .select(col("doc_id"), col("has_manifest"),
          col("manifest_version"), col("main_class"),
          col("created_by"), col("n_classes"), col("n_packages"),
          col("n_members"))
    }),
    // ----- git LOOSE objects (gitformat-loose: zlib over
    // "type size NUL content", id = SHA-1 of that span): the raw
    // .git/objects files crawls carry next to C219's packfiles;
    // GitLooseSpec pins ids against git hash-object
    QuerySpec("q_git_loose",
      // loose objects must inflate, validate and replay their
      // planted type/size/content
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt
           FROM documents)
         SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'commit' ELSE 'blob' END
             AS obj_type,
           CASE WHEN doc_id % 3 = 0
             THEN 84 + strlen(CAST(doc_id AS VARCHAR))
             ELSE 4 + strlen(txt) END::BIGINT AS u_size,
           CASE WHEN doc_id % 3 = 0 THEN NULL
             ELSE 'doc:' || txt END AS blob_text
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val ls = GitLoose.synthLooses(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(ls, "content",
          GitLoose.looseSchema)(GitLoose.decodeLoose)
        .select(col("doc_id"), col("obj_type"), col("u_size"),
          col("blob_text"))
    }),
    // ----- JSON-Lines census (training corpora ship as .jsonl):
    // shape mix, malformed-line rate, key vocabulary — a quality
    // measure that never refuses, garbage IS its signal
    QuerySpec("q_jsonl_census",
      // every planted jsonl mix must replay its shape census
      """WITH p AS (SELECT doc_id, doc_id % 6 + 2 AS n
           FROM documents)
         SELECT doc_id, n::INT AS n_lines,
           (n - 1)::INT AS n_valid, 1 AS n_invalid,
           ((n + 1) // 2)::INT AS n_objects,
           (n // 2 - 1)::INT AS n_arrays, 0 AS n_scalars,
           ((n + 1) // 2 + 1)::INT AS n_distinct_keys
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val js = Jsonl.synthJsonls(d, "doc_id", "content")
      Multimodal.decodeBatches(js, "content",
          Jsonl.jsonlSchema)(Jsonl.decodeJsonl)
        .select(col("doc_id"), col("n_lines"), col("n_valid"),
          col("n_invalid"), col("n_objects"), col("n_arrays"),
          col("n_scalars"), col("n_distinct_keys"))
    }),
    // ----- TFRecord triage (TensorFlow's public record framing —
    // THE classic training-data container): per-doc framed streams
    // mixing tf.Example-style protos with NUL-led raw payloads;
    // both masked CRC32Cs verified per record (any lie refuses the
    // blob, as TF's reader does); the JDK's own CRC32C is the pin
    QuerySpec("q_tfrecord_census",
      // every framed record must CRC-verify and replay its planted
      // sizes and proto flags closed-form
      """WITH p AS (SELECT doc_id, doc_id % 5 + 2 AS n,
           doc_id % 7 AS s7 FROM documents)
         SELECT doc_id, n::BIGINT AS n_records,
           (20 * ((n + 1) // 2) + (8 + s7) * (n // 2))::BIGINT
             AS data_bytes,
           CAST(20 AS BIGINT) AS max_record,
           ((n + 1) // 2)::BIGINT AS n_proto
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ts = TfRecord.synthTfs(d, "doc_id", "content")
      Multimodal.decodeBatches(ts, "content",
          TfRecord.tfSchema)(TfRecord.decodeTf)
        .select(col("doc_id"), col("n_records"), col("data_bytes"),
          col("max_record"), col("n_proto"))
    }),
    // ----- the ML-ARTIFACT omni compose (the model/array analog
    // of q_artifact_omni): seven kinds cycling by doc — npy, npz
    // (routed by the zip walk proving every member is an npy),
    // pickle, safetensors (validation-routed; no magic), GGUF,
    // ORC, Arrow — each to its pinned extractor, one (label, fact,
    // measure) shape; a misroute anywhere breaks the hash
    QuerySpec("q_ml_omni",
      // every ML-artifact kind must route to its extractor and
      // replay its planted headline fact and measure
      """WITH p AS (SELECT doc_id, CAST(doc_id % 9 AS INT) AS k,
           CAST(doc_id % 3 AS INT) AS k3,
           CAST(doc_id % 5 AS INT) AS k5,
           CAST(doc_id % 6 AS INT) AS k6,
           CAST(doc_id % 7 AS INT) AS k7 FROM documents)
         SELECT doc_id,
           CASE k
             WHEN 0 THEN 'application/x-npy'
             WHEN 1 THEN 'application/x-npz'
             WHEN 2 THEN 'application/x-python-pickle'
             WHEN 3 THEN 'application/x-safetensors'
             WHEN 4 THEN 'application/x-gguf'
             WHEN 5 THEN 'application/x-orc'
             WHEN 6 THEN 'application/vnd.apache.arrow.file'
             WHEN 7 THEN 'application/x-python-bytecode'
             ELSE 'application/x-hdf5'
           END AS label,
           CASE k
             WHEN 0 THEN '<i8'
             WHEN 1 THEN '<i8,<f4,|b1'
             WHEN 2 THEN 'dict'
             WHEN 3 THEN 'BF16,I64'
             WHEN 4 THEN CASE k3 WHEN 0 THEN 'llama'
               WHEN 1 THEN 'gptneox' ELSE 'qwen2' END
             WHEN 5 THEN CASE k5 WHEN 0 THEN 'none'
               WHEN 1 THEN 'zlib' WHEN 2 THEN 'snappy'
               WHEN 3 THEN 'zstd' ELSE 'lz4' END
             WHEN 6 THEN CASE k5 WHEN 0 THEN 'int64,utf8'
               WHEN 1 THEN 'float64,bool,timestamp,uint32'
               WHEN 2 THEN 'list,struct'
               WHEN 3 THEN 'dict:utf8,int32'
               ELSE 'binary,int64' END
             WHEN 7 THEN CASE doc_id % 2 WHEN 1
               THEN 'checked_hash' ELSE 'timestamp' END
             ELSE CASE doc_id % 2 WHEN 0 THEN 'v0' ELSE 'v3' END
           END AS fact,
           CASE k
             WHEN 0 THEN k7 + 3
             WHEN 1 THEN k5 + 2 + 7
             WHEN 2 THEN 5 + 2 * (k6 + 2)
             WHEN 3 THEN (k7 + 2) * 8 + (k3 + 1)
             WHEN 4 THEN (k6 + 2) * 16
             WHEN 5 THEN CASE k5 WHEN 0 THEN 100 WHEN 1 THEN 250
               WHEN 2 THEN 50 WHEN 3 THEN 20000 ELSE 300 END
             WHEN 6 THEN CASE k5 WHEN 0 THEN 100 WHEN 1 THEN 25
               WHEN 2 THEN 30 WHEN 3 THEN 20 ELSE 150 END
             WHEN 7 THEN doc_id % 4 + 1
             ELSE 1
           END::BIGINT AS measure
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ms = MlOmni.synthMl(d, "doc_id", "content")
      Multimodal.decodeBatches(ms, "content",
          MlOmni.mlSchema)(MlOmni.decodeMl)
        .select(col("doc_id"), col("label"), col("fact"),
          col("measure"))
    }),
    // ----- CBOR census (RFC 8949, pinned in CborSpec against the
    // standard's own Appendix A vectors): four planted shapes
    // cycling by doc — map / nested arrays / tagged text /
    // indefinite-length array — structure-only facts
    QuerySpec("q_cbor_census",
      // every planted CBOR shape must replay its structure census
      """WITH p AS (SELECT doc_id, CAST(doc_id % 4 AS INT) AS k,
           doc_id % 5 + 1 AS n, doc_id % 4 + 1 AS m,
           doc_id % 3 + 1 AS j FROM documents)
         SELECT doc_id,
           CASE k WHEN 0 THEN 'map' WHEN 1 THEN 'array'
             WHEN 2 THEN 'tag' ELSE 'array' END AS top_kind,
           CASE k WHEN 0 THEN n WHEN 1 THEN m WHEN 2 THEN NULL
             ELSE j END::BIGINT AS n_items,
           CASE k WHEN 0 THEN 1 + 2 * n WHEN 1 THEN 1 + 5 * m
             WHEN 2 THEN 2 ELSE 1 + j END::BIGINT AS n_nodes,
           CASE k WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1
             ELSE 1 END::INT AS max_depth,
           CASE k WHEN 2 THEN 1 ELSE 0 END::BIGINT AS n_tags,
           (k = 3) AS has_indefinite
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val cs = Cbor.synthCbors(d, "doc_id", "content")
      Multimodal.decodeBatches(cs, "content",
          Cbor.cborSchema)(Cbor.decodeCbor)
        .select(col("doc_id"), col("top_kind"), col("n_items"),
          col("n_nodes"), col("max_depth"), col("n_tags"),
          col("has_indefinite"))
    }),
    // ----- MessagePack census (the public msgpack spec): three
    // planted shapes cycling by doc — map / nested arrays / a
    // fixext timestamp — structure-only facts
    QuerySpec("q_msgpack_census",
      // every planted msgpack shape must replay its structure census
      """WITH p AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS k,
           doc_id % 6 + 1 AS n, doc_id % 4 + 1 AS m
           FROM documents)
         SELECT doc_id,
           CASE k WHEN 0 THEN 'map' WHEN 1 THEN 'array'
             ELSE 'map' END AS top_kind,
           CASE k WHEN 0 THEN n WHEN 1 THEN m ELSE 1
             END::BIGINT AS n_items,
           CASE k WHEN 0 THEN 1 + 2 * n WHEN 1 THEN 1 + 4 * m
             ELSE 3 END::BIGINT AS n_nodes,
           CASE k WHEN 1 THEN 2 ELSE 1 END::INT AS max_depth,
           CASE k WHEN 2 THEN 1 ELSE 0 END::BIGINT AS n_exts
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ms = MsgPack.synthMps(d, "doc_id", "content")
      Multimodal.decodeBatches(ms, "content",
          MsgPack.mpSchema)(MsgPack.decodeMp)
        .select(col("doc_id"), col("top_kind"), col("n_items"),
          col("n_nodes"), col("max_depth"), col("n_exts"))
    }),
    // ----- SafeTensors triage (the public huggingface spec — the
    // format model weights ship in BECAUSE pickles execute): three
    // planted manifest shapes cycling by doc, validated exactly as
    // the reference loader validates (bounds, sizes, gap-free
    // tiling), facts closed-form
    QuerySpec("q_safetensors_meta",
      // every planted manifest shape must validate and replay its
      // exact tensor/parameter/byte counts
      """WITH p AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS k,
           doc_id % 4 + 1 AS n, doc_id % 5 + 2 AS d,
           doc_id % 7 + 2 AS e, doc_id % 3 + 1 AS i,
           doc_id % 6 + 1 AS m FROM documents)
         SELECT doc_id,
           CASE k WHEN 0 THEN 2 * n WHEN 1 THEN 2 ELSE 3
             END::INT AS n_tensors,
           CASE k WHEN 0 THEN 5 * d * n WHEN 1 THEN e * 8 + i
             ELSE 1 + m END::BIGINT AS total_params,
           CASE k WHEN 0 THEN 18 * d * n
             WHEN 1 THEN e * 16 + i * 8
             ELSE 8 + m END::BIGINT AS total_bytes,
           CASE k WHEN 0 THEN 'F16,F32' WHEN 1 THEN 'BF16,I64'
             ELSE 'BOOL,F64,U8' END AS dtypes,
           2 AS max_rank,
           (k = 1) AS has_metadata
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ss = SafeTensors.synthSts(d, "doc_id", "content")
      Multimodal.decodeBatches(ss, "content",
          SafeTensors.stSchema)(SafeTensors.decodeSt)
        .select(col("doc_id"), col("n_tensors"),
          col("total_params"), col("total_bytes"), col("dtypes"),
          col("max_rank"), col("has_metadata"))
    }),
    // ----- GGUF triage (the public ggml spec — quantized LLM
    // distribution files): planted architectures, layer counts and
    // quant types cycling by doc; exact parameter totals
    QuerySpec("q_gguf_meta",
      // planted architectures, layer counts and quant types must
      // replay with exact parameter totals
      """WITH p AS (SELECT doc_id, doc_id % 4 + 1 AS nl,
           doc_id % 6 + 2 AS d FROM documents)
         SELECT doc_id, 3 AS version,
           (2 * nl)::BIGINT AS n_tensors,
           (2 + doc_id % 3)::BIGINT AS n_kv,
           CASE doc_id % 3 WHEN 0 THEN 'llama'
             WHEN 1 THEN 'gptneox' ELSE 'qwen2' END AS arch,
           'model-' || CAST(doc_id % 10 AS VARCHAR)
             AS model_name,
           (32 * d * nl)::BIGINT AS total_params,
           CASE doc_id % 4 WHEN 0 THEN 'F32' WHEN 1 THEN 'Q8_0'
             WHEN 2 THEN 'Q4_K' ELSE 'BF16' END AS qtypes
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val gs = Gguf.synthGgufs(d, "doc_id", "content")
      Multimodal.decodeBatches(gs, "content",
          Gguf.ggufSchema)(Gguf.decodeGguf)
        .select(col("doc_id"), col("version"), col("n_tensors"),
          col("n_kv"), col("arch"), col("model_name"),
          col("total_params"), col("qtypes"))
    }),
    // ----- Arrow IPC (Feather v2) triage (the public Arrow
    // columnar spec, flatbuffers walked from the wire format):
    // the committed fixtures are written by pyarrow itself across
    // nested, dictionary-encoded and zstd-compressed layouts; rows
    // are read from record-batch HEADERS, never the bodies
    QuerySpec("q_arrow_meta",
      // the flatbuffers walk must replay the reference pyarrow
      // writer's schema and exact row counts
      """SELECT doc_id, 4 AS version,
           CASE doc_id % 5 WHEN 0 THEN 'id,name'
             WHEN 1 THEN 'v,ok,ts,u' WHEN 2 THEN 'xs,st'
             WHEN 3 THEN 'cat,n' ELSE 'payload,k' END
             AS field_names,
           CASE doc_id % 5 WHEN 0 THEN 'int64,utf8'
             WHEN 1 THEN 'float64,bool,timestamp,uint32'
             WHEN 2 THEN 'list,struct'
             WHEN 3 THEN 'dict:utf8,int32'
             ELSE 'binary,int64' END AS field_types,
           CASE doc_id % 5 WHEN 0 THEN 2 WHEN 4 THEN 3 ELSE 1
             END::INT AS n_batches,
           CASE doc_id % 5 WHEN 3 THEN 1 ELSE 0 END::INT
             AS n_dicts,
           CASE doc_id % 5 WHEN 0 THEN 100 WHEN 1 THEN 25
             WHEN 2 THEN 30 WHEN 3 THEN 20 ELSE 150 END::BIGINT
             AS total_rows
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val as = ArrowIpc.synthArrows(d, "doc_id", "content")
      Multimodal.decodeBatches(as, "content",
          ArrowIpc.arrowSchema)(ArrowIpc.decodeArrow)
        .select(col("doc_id"), col("version"), col("field_names"),
          col("field_types"), col("n_batches"), col("n_dicts"),
          col("total_rows"))
    }),
    // ----- Python pickle census (the public pickletools opcode
    // grammar): five planted shapes cycling by doc — proto-2 dict /
    // proto-4 framed list / tuple3 / a REDUCE with its global /
    // proto-0 ASCII dict — replayed as structure-only facts (the
    // machine never constructs objects); PickleSpec pins the census
    // against fixtures CPython's own pickle wrote at protocols 0-5
    QuerySpec("q_pickle_census",
      // the census must replay every planted pickle shape: protocol,
      // opcode count, top kind, container length, globals, memo,
      // frames — all closed-form
      """WITH p AS (SELECT doc_id, CAST(doc_id % 5 AS INT) AS k,
           doc_id % 6 + 2 AS n, doc_id % 4 + 1 AS m,
           doc_id % 3 + 1 AS n2 FROM documents)
         SELECT doc_id,
           CASE k WHEN 1 THEN 4 WHEN 4 THEN 0 ELSE 2 END::INT
             AS protocol,
           CASE k WHEN 0 THEN 5 + 2 * n WHEN 1 THEN 7 + m
             WHEN 2 THEN 6 WHEN 3 THEN 5
             ELSE 3 + 2 * n2 END::INT AS n_ops,
           CASE k WHEN 1 THEN 'list' WHEN 2 THEN 'tuple'
             WHEN 3 THEN 'reduce' ELSE 'dict' END AS top_kind,
           CASE k WHEN 0 THEN n WHEN 1 THEN m WHEN 2 THEN 3
             WHEN 3 THEN NULL ELSE n2 END::INT AS n_items,
           CASE k WHEN 3 THEN 'collections.OrderedDict'
             ELSE '' END AS globals_csv,
           CASE k WHEN 1 THEN 1 ELSE 0 END::INT AS n_memo,
           CASE k WHEN 1 THEN 1 ELSE 0 END::INT AS n_frames
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ps = Pickle.synthPickles(d, "doc_id", "content")
      Multimodal.decodeBatches(ps, "content",
          Pickle.pickleSchema)(Pickle.decodePickle)
        .select(col("doc_id"), col("protocol"), col("n_ops"),
          col("top_kind"), col("n_items"), col("globals_csv"),
          col("n_memo"), col("n_frames"))
    }),
    // ----- the ARTIFACT omni compose (the binary analog of
    // q_crawl_omni): eight artifact kinds cycling by doc —
    // ELF/PE/class/wasm/fonts(3 containers)/parquet/torrent/
    // git-pack — each magic-sniffed and routed to its reference-
    // pinned extractor, flattened to one (label, fact, measure)
    // row shape; a misroute anywhere breaks the oracle
    QuerySpec("q_artifact_omni",
      // every artifact kind must route to its extractor and replay
      // its planted headline fact and measure
      """WITH p AS (SELECT doc_id,
           CAST(doc_id % 13 AS INT) AS kind,
           CAST(doc_id % 3 AS INT) AS k3,
           CAST(doc_id % 5 AS INT) AS k5,
           CAST(doc_id % 2 AS INT) AS k2 FROM documents)
         SELECT doc_id,
           CASE kind
             WHEN 0 THEN 'application/x-elf'
             WHEN 1 THEN 'application/vnd.microsoft' ||
               '.portable-executable'
             WHEN 2 THEN 'application/java-vm'
             WHEN 3 THEN 'application/wasm'
             WHEN 4 THEN CASE k3 WHEN 0 THEN 'font/ttf'
               WHEN 1 THEN 'font/woff' ELSE 'font/woff2' END
             WHEN 5 THEN 'application/vnd.apache.parquet'
             WHEN 6 THEN 'application/x-bittorrent'
             WHEN 7 THEN 'application/x-git-pack'
             WHEN 8 THEN 'application/x-mach-binary'
             WHEN 9 THEN 'application/java-archive'
             WHEN 10 THEN 'application/x-git-loose-object'
             WHEN 11 THEN 'application/pkix-cert'
             ELSE 'application/vnd.tcpdump.pcap'
           END AS label,
           CASE kind
             WHEN 0 THEN 'x86_64'
             WHEN 1 THEN 'x86_64'
             WHEN 2 THEN 'corpus.Doc' || doc_id
             WHEN 3 THEN 'meta' || doc_id
             WHEN 4 THEN 'Family ' || doc_id
             WHEN 5 THEN CASE k5 WHEN 0 THEN 'uncompressed'
               WHEN 1 THEN 'snappy' WHEN 2 THEN 'gzip'
               WHEN 3 THEN 'zstd' ELSE 'lz4' END
             WHEN 6 THEN 'corpus-' || doc_id
             WHEN 7 THEN 'blob'
             WHEN 8 THEN CASE k2 WHEN 0 THEN 'thin:x86_64'
               ELSE 'fat:x86_64' END
             WHEN 9 THEN 'com.corpus.Main'
             WHEN 10 THEN 'blob'
             WHEN 11 THEN 'doc' || CAST(doc_id % 50 AS VARCHAR)
               || '.example'
             ELSE 'ethernet'
           END AS fact,
           CAST(CASE kind
             WHEN 0 THEN k3 + 2
             WHEN 1 THEN k3 + 1
             WHEN 2 THEN k3 + 1
             WHEN 3 THEN k3 + 1
             WHEN 4 THEN 100 + doc_id % 900
             WHEN 5 THEN CASE k5 WHEN 0 THEN 100 WHEN 1 THEN 250
               WHEN 2 THEN 50 WHEN 3 THEN 20000 ELSE 300 END
             WHEN 6 THEN 10000 + doc_id % 5000
             WHEN 7 THEN k3 + 1
             WHEN 8 THEN k3 + 3 + CASE k2 WHEN 0 THEN 0
               ELSE 2 END
             WHEN 9 THEN 2 * (k2 + 1)
             WHEN 10 THEN 10 + strlen(CAST(doc_id AS VARCHAR))
             WHEN 11 THEN 1000 + doc_id % 9000
             ELSE 1
           END AS BIGINT) AS measure
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val as = ArtifactOmni.synthArtifacts(d, "doc_id", "content")
      Multimodal.decodeBatches(as, "content",
          ArtifactOmni.artifactSchema)(ArtifactOmni.decodeArtifact)
        .select(col("doc_id"), col("label"), col("fact"),
          col("measure"))
    }),
    // ----- font triage (OpenType/sfnt + WOFF + WOFF2): planted
    // family/style/glyph facts replayed through all three
    // containers (WOFF2's brotli layer rides the reference-pinned
    // codec); the system DejaVu Serif pins the decode against
    // fc-scan's facts in FontSpec
    QuerySpec("q_font_meta",
      // the font triage must replay the planted facts through every
      // container
      """SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'sfnt' WHEN 1 THEN 'woff'
             ELSE 'woff2' END AS container,
           'Family ' || doc_id AS family,
           CASE doc_id % 2 WHEN 0 THEN 'Regular' ELSE 'Bold' END
             AS style,
           3 AS n_tables,
           CAST(100 + doc_id % 900 AS INT) AS n_glyphs,
           2048 AS units_per_em
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val fs = Font.synthFonts(d, "doc_id", "content")
      Multimodal.decodeBatches(fs, "content",
          Font.fontSchema)(Font.decodeFont)
        .select(col("doc_id"), col("container"), col("family"),
          col("style"), col("n_tables"), col("n_glyphs"),
          col("units_per_em"))
    }),
    // ----- PE/COFF triage (the public Microsoft PE spec — the
    // Windows half of the executable tier): planted arch/dll/
    // section shapes replayed; binutils' independent BFD backend
    // reads the writer's images (PeSpec + PePinGen)
    QuerySpec("q_pe_meta",
      // the pe triage must replay the planted header facts
      """WITH p AS (SELECT doc_id,
           CAST(doc_id % 4 + 1 AS INT) AS n FROM documents)
         SELECT doc_id,
           CASE doc_id % 2 WHEN 0 THEN 'x86_64' ELSE 'i386' END
             AS machine,
           doc_id % 2 = 0 AS is64,
           doc_id % 3 = 0 AS is_dll,
           CAST(n AS INT) AS n_sections,
           (SELECT string_agg('.s' || t.j, ',' ORDER BY t.j)
            FROM unnest(generate_series(0, n - 1)) AS t(j))
             AS section_names
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 4 + 1).cast("int").as("__n"))
      val pes = Pe.synthPes(d, "doc_id", "__n", "content")
      Multimodal.decodeBatches(pes, "content",
          Pe.peSchema)(Pe.decodePe)
        .select(col("doc_id"), col("machine"), col("is64"),
          col("is_dll"), col("n_sections"), col("section_names"))
    }),
    // ----- Java .class triage (the JVMS ClassFile grammar): the
    // full constant-pool walk with planted class/method/field
    // shapes replayed; javac fixtures pinned against javap in
    // JavaClassSpec, and javap disassembles the writer's output
    // (JavaClassPinGen)
    QuerySpec("q_class_meta",
      // the class triage must replay the planted pool/member shape
      """WITH p AS (SELECT doc_id,
           CAST(doc_id % 4 + 1 AS INT) AS n FROM documents)
         SELECT doc_id, 52 AS major,
           'corpus.Doc' || doc_id AS class_name,
           'java.lang.Object' AS super_name,
           CAST(doc_id % 3 AS INT) AS n_fields,
           CAST(n AS INT) AS n_methods,
           (SELECT string_agg('m' || t.j, ',' ORDER BY t.j)
            FROM unnest(generate_series(0, n - 1)) AS t(j))
             AS method_names
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 4 + 1).cast("int").as("__n"))
      val cs = JavaClass.synthClasses(d, "doc_id", "__n", "content")
      Multimodal.decodeBatches(cs, "content",
          JavaClass.classSchema)(JavaClass.decodeClass)
        .select(col("doc_id"), col("major"), col("class_name"),
          col("super_name"), col("n_fields"), col("n_methods"),
          col("method_names"))
    }),
    // ----- WASM module triage (the public wasm binary spec):
    // planted section/export/custom census replayed; the writer's
    // modules are validated by Node's production WebAssembly
    // engine (WasmSpec + WasmPinGen record the pin)
    QuerySpec("q_wasm_meta",
      // the wasm census must replay the planted module shape
      """WITH p AS (SELECT doc_id,
           CAST(doc_id % 4 + 1 AS INT) AS n FROM documents)
         SELECT doc_id, 1 AS version, 5 AS n_sections,
           '1,3,7,10,0' AS section_ids,
           CAST(n AS INT) AS n_exports,
           (SELECT string_agg('fn' || t.j, ',' ORDER BY t.j)
            FROM unnest(generate_series(0, n - 1)) AS t(j))
             AS export_names,
           'meta' || doc_id AS custom_names
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 4 + 1).cast("int").as("__n"))
      val ws = Wasm.synthWasms(d, "doc_id", "__n", "content")
      Multimodal.decodeBatches(ws, "content",
          Wasm.wasmSchema)(Wasm.decodeWasm)
        .select(col("doc_id"), col("version"), col("n_sections"),
          col("section_ids"), col("n_exports"),
          col("export_names"), col("custom_names"))
    }),
    // ----- ELF binary triage (elf(5)/gABI): planted class/machine/
    // section census replayed; the committed gcc fixtures pin the
    // decode against readelf's facts in ElfSpec
    QuerySpec("q_elf_meta",
      // the elf triage must replay the planted header facts
      """WITH p AS (SELECT doc_id,
           CAST(doc_id % 4 + 1 AS INT) AS n FROM documents)
         SELECT doc_id, doc_id % 2 = 0 AS is64,
           'REL' AS e_type,
           CASE doc_id % 3 WHEN 0 THEN 'x86_64'
             WHEN 1 THEN 'aarch64' ELSE 'riscv' END AS machine,
           CAST(n + 1 AS INT) AS n_sections,
           (SELECT string_agg('.sec' || t.j, ',' ORDER BY t.j)
            FROM unnest(generate_series(0, n - 1)) AS t(j))
             || ',.shstrtab' AS section_names
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 4 + 1).cast("int").as("__n"))
      val elfs = Elf.synthElfs(d, "doc_id", "__n", "content")
      Multimodal.decodeBatches(elfs, "content",
          Elf.elfSchema)(Elf.decodeElf)
        .select(col("doc_id"), col("is64"), col("e_type"),
          col("machine"), col("n_sections"), col("section_names"))
    }),
    // ----- REAL git packfile walk (gitformat-pack; code corpora
    // ship as git repos and the pack is where the bytes live):
    // per doc a pack of planted blobs — odd docs as genuine
    // OFS_DELTA chains — with the trailing pack SHA-1 AND every
    // reconstructed object id verified; pinned BOTH directions
    // against git 2.39 (its packs walk to its own ids here; our
    // packs pass `git index-pack --strict` — GitPackPinGen)
    QuerySpec("q_git_pack",
      // the pack walk must replay the planted blobs byte-faithfully
      // with the delta tier engaged exactly when the shared prefix
      // clears the writer's 16-byte threshold
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents)
         SELECT doc_id, 'blob' AS obj_type,
           CAST(strlen(txt) + 10 AS BIGINT) AS u_size,
           0 AS delta_depth,
           'base:' || txt || ' tail' AS blob_text
         FROM p
         UNION ALL
         SELECT doc_id, 'blob',
           CAST(strlen(txt) + 15 AS BIGINT),
           CASE WHEN doc_id % 2 = 1 AND strlen(txt) >= 10
             THEN 1 ELSE 0 END,
           'base:' || txt || ' variant ' || t.j
         FROM p, LATERAL unnest(generate_series(1, n - 1))
           AS t(j)""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val packs = GitPack.synthPacks(d, "doc_id", "__t", "__n",
        "content")
      GitPack.packObjectRows(packs, "doc_id", "content")
        .select(col("doc_id"), col("obj_type"), col("u_size"),
          col("delta_depth"), col("blob_text"))
    }),
    // ----- schema-less protobuf wire-format census (the public
    // encoding spec): planted varint/string/repeated/nested/fixed64
    // fields replay per (field, wire type) with occurrence counts,
    // payload bytes, varint sums and the every-occurrence nested
    // flag; the free-text payload is NUL-prefixed so the flag stays
    // deterministic (a NUL key is field 0 — never a valid message)
    QuerySpec("q_proto_census",
      // the census must replay every planted field arithmetically
      // (vlen = protobuf varint byte length)
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents),
         f1 AS (SELECT doc_id, 1 AS field_no, 0 AS wire_type,
           CAST(1 AS BIGINT) AS n_occ,
           CAST(CASE WHEN doc_id < 128 THEN 1
             WHEN doc_id < 16384 THEN 2
             WHEN doc_id < 2097152 THEN 3
             WHEN doc_id < 268435456 THEN 4 ELSE 5 END AS BIGINT)
             AS n_bytes,
           CAST(doc_id AS BIGINT) AS varint_sum, FALSE AS nested
           FROM p),
         f2 AS (SELECT doc_id, 2, 2, CAST(1 AS BIGINT),
           CAST(1 + strlen(txt) AS BIGINT), CAST(0 AS BIGINT),
           FALSE FROM p),
         f3 AS (SELECT doc_id, 3, 0, CAST(n AS BIGINT),
           (SELECT CAST(SUM(CASE WHEN doc_id + t.j < 128 THEN 1
              WHEN doc_id + t.j < 16384 THEN 2
              WHEN doc_id + t.j < 2097152 THEN 3
              WHEN doc_id + t.j < 268435456 THEN 4 ELSE 5 END)
              AS BIGINT)
            FROM unnest(generate_series(0, n - 1)) AS t(j)),
           CAST(n * doc_id + n * (n - 1) / 2 AS BIGINT), FALSE
           FROM p),
         f4 AS (SELECT doc_id, 4, 2, CAST(1 AS BIGINT),
           CAST(14 + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT),
           CAST(0 AS BIGINT), TRUE FROM p),
         f5 AS (SELECT doc_id, 5, 1, CAST(1 AS BIGINT),
           CAST(8 AS BIGINT), CAST(0 AS BIGINT), FALSE FROM p)
         SELECT doc_id, CAST(field_no AS INT) AS field_no,
           CAST(wire_type AS INT) AS wire_type, n_occ, n_bytes,
           varint_sum, nested
         FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2
           UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4
           UNION ALL SELECT * FROM f5)
           AS u(doc_id, field_no, wire_type, n_occ, n_bytes,
             varint_sum, nested)""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val ps = Proto.synthProtos(d, "doc_id", "__t", "__n",
        "content")
      Proto.protoCensusRows(ps, "doc_id", "content")
        .select(col("doc_id"), col("field_no"), col("wire_type"),
          col("n_occ"), col("n_bytes"), col("varint_sum"),
          col("nested"))
    }),
    // ----- REAL .torrent parse (BEP 3 bencode, canonical form
    // demanded): planted single-/multi-file metainfo replayed
    // arithmetically; the infohash (SHA-1 of the info dict's exact
    // source span) is exercised by q_torrent_dedup and pinned
    // against a hashlib reference literal in TorrentSpec
    QuerySpec("q_torrent_meta",
      // the torrent parse must replay the planted metainfo fields
      """WITH p AS (SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 1
             ELSE CAST(doc_id % 4 AS INT) + 1 END AS nf,
           10000 + doc_id % 5000 AS base
         FROM documents),
         q AS (SELECT doc_id, nf,
           CASE WHEN doc_id % 2 = 0 THEN base
             ELSE nf * base + 77 * (nf * (nf - 1) / 2) END AS total
         FROM p)
         SELECT doc_id, 'corpus-' || doc_id AS t_name,
           CAST(16384 AS BIGINT) AS piece_length,
           CAST(CEIL(total / 16384.0) AS INT) AS n_pieces,
           CAST(nf AS INT) AS n_files,
           CAST(total AS BIGINT) AS total_length
         FROM q""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ts = Torrent.synthTorrents(d, "doc_id", "content")
      Multimodal.decodeBatches(ts, "content",
          Torrent.torrentSchema)(Torrent.decodeTorrent)
        .select(col("doc_id"), col("t_name"), col("piece_length"),
          col("n_pieces"), col("n_files"), col("total_length"))
    }),
    // ----- infohash dedup: the canonical torrent identity — docs
    // cycling over 97 planted seeds must cluster exactly by seed
    // (any infohash nondeterminism or span slip breaks the counts)
    QuerySpec("q_torrent_dedup",
      // identical seeds must produce identical infohashes and
      // different seeds distinct ones -> clusters are exactly the
      // doc_id % 97 classes
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
         FROM documents GROUP BY doc_id % 97""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 97).cast("int").as("__seed"))
      val ts = Torrent.synthTorrents(d, "__seed", "content")
      Multimodal.decodeBatches(ts, "content",
          Torrent.torrentSchema)(Torrent.decodeTorrent)
        .select(col("doc_id"), col("infohash"))
        .groupBy(col("infohash"))
        .agg(min(col("doc_id")).as("doc_id"),
          count(lit(1)).as("n_dups"))
        .select(col("doc_id"), col("n_dups"))
    }),
    // ----- REAL ISO 9660 walk (ECMA-119 + Rock Ridge NM + Joliet
    // fallback): per doc a genuine image — PVD, L/M path tables,
    // SUSP SP/ER announcements, RR-named records, odd files in a
    // subdirectory — listed back with extraction verified; bsdtar
    // reads the writer's images with real names byte-exactly
    // (IsoSpec + IsoPinGen record the pin)
    QuerySpec("q_iso_entries",
      // the iso walk must list the planted paths (odd files nested
      // in the subdirectory) with Rock Ridge names intact
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents)
         SELECT doc_id,
           CASE WHEN t.j % 2 = 1 THEN 'sub/f' || t.j || '.txt'
             ELSE 'f' || t.j || '.txt' END AS entry_path,
           CAST(strlen('i' || t.j || ':' || txt) AS BIGINT)
             AS u_size,
           TRUE AS ok
         FROM p, LATERAL unnest(generate_series(0, n - 1))
           AS t(j)""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val isos = Iso.synthIsos(d, "doc_id", "__t", "__n", "content")
      Iso.isoEntryRows(isos, "doc_id", "content")
        .select(col("doc_id"), col("entry_path"), col("u_size"),
          col("ok"))
    }),
    // ----- REAL RAR5 walk (the public rarlab block grammar):
    // stored members with verified data CRC32s; libarchive's
    // independent rar5 reader lists/extracts the writer's archives
    // byte-exactly (RarSpec + RarPinGen record the pin; no rar
    // binary exists here — probe recorded)
    QuerySpec("q_rar_entries",
      // the rar5 walk must list the planted stored members with
      // extraction CRC-verified
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents)
         SELECT doc_id, 'r' || t.j || '.txt' AS entry_name,
           0 AS method,
           CAST(strlen('v' || t.j || ':' || txt) AS BIGINT)
             AS u_size,
           TRUE AS ok
         FROM p, LATERAL unnest(generate_series(0, n - 1))
           AS t(j)""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val rars = Rar.synthRars(d, "doc_id", "__t", "__n", "content")
      Rar.rarEntryRows(rars, "doc_id", "content")
        .select(col("doc_id"), col("entry_name"), col("method"),
          col("u_size"), col("ok"))
    }),
    // ----- REAL cpio walk (odc + newc + newc-CRC cycling by doc):
    // the initramfs/rpm payload dialects, the CRC dialect's data
    // sum verified; bsdtar reads the writer's output byte-exactly
    // (CpioSpec + CpioPinGen record the pin)
    QuerySpec("q_cpio_entries",
      // the cpio walk must list the planted members with the dialect
      // each doc cycled to
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n,
           CASE doc_id % 3 WHEN 0 THEN 'odc' WHEN 1 THEN 'newc'
             ELSE 'crc' END AS fmt
         FROM documents)
         SELECT doc_id, 'p' || t.j || '.dat' AS entry_name,
           fmt AS format,
           CAST(strlen('c' || t.j || ':' || txt) AS BIGINT)
             AS u_size,
           TRUE AS ok
         FROM p, LATERAL unnest(generate_series(0, n - 1))
           AS t(j)""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val cps = Cpio.synthCpios(d, "doc_id", "__t", "__n", "content")
      Cpio.cpioEntryRows(cps, "doc_id", "content")
        .select(col("doc_id"), col("entry_name"), col("format"),
          col("u_size"), col("ok"))
    }),
    // ----- REAL deb(5)/ar walk: per doc a genuine .deb (GNU ar
    // framing, control+data tars through gzip/xz/zstd cycling by
    // doc) listed back through the nested codec route; binutils ar
    // and bsdtar both read the writer's output byte-exactly
    // (ArSpec + ArPinGen record the pin)
    QuerySpec("q_deb_entries",
      // the deb walk must list both nested tars' planted members
      // through the right codec
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n,
           CASE doc_id % 3 WHEN 0 THEN 'gz' WHEN 1 THEN 'xz'
             ELSE 'zst' END AS ext,
           CASE doc_id % 3 WHEN 0 THEN 'gzip' WHEN 1 THEN 'xz'
             ELSE 'zstd' END AS cdc
         FROM documents)
         SELECT doc_id, 'control.tar.' || ext AS member,
           cdc AS codec, './control' AS entry_name,
           CAST(strlen('Package: p' || doc_id) + 1 AS BIGINT)
             AS u_size
         FROM p
         UNION ALL
         SELECT doc_id, 'data.tar.' || ext, cdc,
           './usr/share/d' || t.j || '.txt',
           CAST(strlen('f' || t.j || ':' || txt) AS BIGINT)
         FROM p, LATERAL unnest(generate_series(0, n - 1))
           AS t(j)""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val debs = Ar.synthDebs(d, "doc_id", "__t", "__n", "content")
      Ar.debEntryRows(debs, "doc_id", "content")
        .select(col("doc_id"), col("member"), col("codec"),
          col("entry_name"), col("u_size"))
    }),
    // ----- REAL CAB walk ([MS-CAB]): per doc a genuine cabinet
    // (header, folder directory, CFFILE records, per-block XOR-fold
    // checksums, stored + MSZIP folders with the cross-block deflate
    // window) listed back with extraction verified per member; the
    // writer's output is extracted byte-exactly by libarchive at
    // fixture-generation time (CabSpec pins it)
    QuerySpec("q_cab_entries",
      // the cabinet walk must read back the planted member set with
      // the per-member compression choice and real extraction ok
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents)
         SELECT doc_id,
           'c' || t.j || '.dat' AS entry_name,
           CASE (doc_id + t.j) % 2 WHEN 0 THEN 'none'
             ELSE 'mszip' END AS compression,
           CAST(strlen('k' || t.j || ':' || txt) AS BIGINT)
             AS u_size,
           TRUE AS ok
         FROM p, LATERAL unnest(generate_series(0, n - 1)) AS t(j)""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"))
      val cabs = Cab.synthCabs(d, "doc_id", "__t", "__n", "content")
      Cab.cabEntryRows(cabs, "doc_id", "content")
        .select(col("doc_id"), col("entry_name"),
          col("compression"), col("u_size"), col("ok"))
    }),
    // ----- REAL gzip member decode: header flag walk (FNAME), raw
    // inflate, CRC32 + ISIZE trailer verification — the text must
    // come back byte-identical or the row nulls
    QuerySpec("q_gzip_roundtrip",
      // inflate + trailer verification must reproduce the text exactly
      """SELECT doc_id, COALESCE(text, '') AS gz_text FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val gz = Archive.synthGzips(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(gz, "content",
          Archive.gunzipTextSchema)(Archive.decodeGunzipText)
        .select(col("doc_id"), col("gz_text"))
    }),
    // ----- end-to-end crawl ingest: WARC unwrap → HTTP body → the
    // Gopher-style quality filter → fingerprint dedup — the wrapped
    // bytes must feed the text stack LOSSLESSLY (the oracle runs the
    // same filter + grouping on the documents table directly, so any
    // byte damage in the unwrap breaks the hash)
    QuerySpec("q_crawl_curate",
      // the unwrap must be lossless: the same quality filter +
      // fingerprint grouping over the documents table directly — any
      // byte damage through the WARC/gzip path shifts a fingerprint
      // and breaks the hash
      s"""WITH k AS (SELECT doc_id FROM ($qualityFilterOracle)
           WHERE keep),
         d AS (SELECT doc_id, COALESCE(text, '') AS text
           FROM documents WHERE doc_id IN (SELECT doc_id FROM k))
         SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
         FROM d
         GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '',
           'g'))""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 2).cast("int").as("__gz"))
      val warcs = Archive.synthWarcs(d, "doc_id", "__t", "__gz",
        "content")
      val rows = Archive.warcRecordRows(
          warcs.filter(col("__gz") === 0), "doc_id", "content",
          gzipped = false)
        .unionByName(Archive.warcRecordRows(
          warcs.filter(col("__gz") === 1), "doc_id", "content",
          gzipped = true))
        .filter(col("warc_type") === "response")
        .select(col("doc_id"), col("body_text").as("text"))
      val kept = rows.filter(T.qualityKeep(col("text")))
      Dedup.byFingerprint(kept, "text", "doc_id")
        .select(col("doc_id"), col("n_dups"))
    }),
    // ----- REAL PDF text extraction: per doc a genuine PDF (xref
    // table / xref stream / compressed-ObjStm layouts cycled, content
    // streams through none/Flate/ASCIIHex/ASCII85/chained/LZW/
    // RunLength filters, literal+hex strings, TJ kerning spaces) —
    // the extracted text must equal the planted documents.text byte
    // for byte
    QuerySpec("q_pdf_text",
      // the full PDF stack (xref/ObjStm layouts, five content
      // encodings) must hand back the planted text EXACTLY — the
      // oracle is the documents table itself
      """SELECT doc_id, COALESCE(text, '') AS pdf_text,
           CAST(1 AS INT) AS n_pages
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 7).cast("int").as("__v"),
        (col("doc_id") % 3).cast("int").as("__x"))
      val pdfs = Pdf.synthPdfs(d, "__t", "__v", "__x", "content")
      Multimodal.decodeBatches(pdfs, "content",
          Pdf.pdfTextSchema)(Pdf.decodePdfText)
        .select(col("doc_id"), col("pdf_text"), col("n_pages"))
    }),
    // ----- crawl ingest for PDF payloads: WARC response bodies with
    // Content-Type application/pdf (every 2nd doc .warc.gz) → HTTP
    // body split → the full PDF extractor → quality filter →
    // fingerprint dedup — the path q_crawl_curate used to drop on
    // the floor; the oracle runs the same filter + grouping over
    // documents.text directly, so ANY byte damage through
    // warc→gzip→http→pdf breaks the hash
    QuerySpec("q_crawl_pdf",
      // pdf-through-warc crawl ingest must be lossless end to end:
      // same quality filter + fingerprint grouping as q_crawl_curate,
      // over documents.text directly
      s"""WITH k AS (SELECT doc_id FROM ($qualityFilterOracle)
           WHERE keep),
         d AS (SELECT doc_id, COALESCE(text, '') AS text
           FROM documents WHERE doc_id IN (SELECT doc_id FROM k))
         SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
         FROM d
         GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '',
           'g'))""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 7).cast("int").as("__v"),
        (col("doc_id") % 3).cast("int").as("__x"),
        (col("doc_id") % 2).cast("int").as("__gz"))
      val pdfs = Pdf.synthPdfs(d, "__t", "__v", "__x", "__pdf")
      val warcs = Pdf.synthPdfWarcs(pdfs, "doc_id", "__pdf", "__gz",
        "content")
      val rows = Multimodal.decodeBatches(warcs, "content",
          Pdf.warcPdfTextSchema)(Pdf.decodeWarcPdfText)
        .select(col("doc_id"), col("pdf_text").as("text"))
      val kept = rows.filter(T.qualityKeep(col("text")))
      Dedup.byFingerprint(kept, "text", "doc_id")
        .select(col("doc_id"), col("n_dups"))
    }),
    // ----- the OMNI crawl compose: FOURTEEN formats cycling by
    // doc_id%14 — six direct (html/pdf/docx/rtf/epub/markdown) and
    // eight ARCHIVE-NESTED (zip-of-pdf, tar.gz-of-rtf, 7z-of-docx,
    // cab-of-pdf, deb-of-rtf, cpio-of-pdf, iso-of-rtf, lz4-of-pdf:
    // the recursive unwrap tier) — each wrapped as an HTTP response
    // in a WARC (odd docs .warc.gz), with LYING declared
    // Content-Types on every 5th doc; the pipeline must route by
    // magic-byte sniff at BOTH levels, extract, quality-filter, and
    // fingerprint-dedup in ONE query; any byte damage or misroute
    // anywhere breaks the oracle's hash
    QuerySpec("q_crawl_omni",
      // the omni compose replayed closed-form: per-format expected
      // text (html whitespace-normalized, epub's c2 chapter suffix,
      // markdown's fixed wrapper, pdf/docx/rtf identity), then the
      // SAME quality filter + fingerprint grouping as q_crawl_curate
      s"""WITH src AS (SELECT doc_id,
           CASE CAST(doc_id % 14 AS INT)
             WHEN 0 THEN trim(regexp_replace(regexp_replace(
               COALESCE(text, ''), '[\\x00-\\x1F\\x7F]', ' ', 'g'),
               '\\s+', ' ', 'g'))
             WHEN 4 THEN COALESCE(text, '') || chr(10) || 'c2 '
               || doc_id
             WHEN 5 THEN 'Doc ' || CAST(doc_id % 50 AS VARCHAR)
               || chr(10) || chr(10) || COALESCE(text, '')
               || chr(10) || chr(10) || chr(10)
               || 'val x = 6 * 7 // fixed' || chr(10) || chr(10)
               || 'html tag stripped' || chr(10)
             ELSE COALESCE(text, '')
           END AS text
           FROM documents),
         k AS (SELECT doc_id
           FROM (${qualityFilterOracleFrom("src")}) WHERE keep),
         d AS (SELECT doc_id, text FROM src
           WHERE doc_id IN (SELECT doc_id FROM k))
         SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
         FROM d
         GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '',
           'g'))""",
      (s, dir) => {
      // plain read ON PURPOSE (A/B'd r19): the 14 format branches
      // below each re-materialize a tp() fan-out (Catalyst pushes the
      // branch filter under the exchange — 14 exchanges, 448 confetti
      // tasks, 1.5 s → 2.9 s); unfanned, the 14 single-task branch
      // stages run CONCURRENTLY inside the one union job and fill the
      // cores by themselves (1.53 s vs 1.75 s for a p/14 fan-out).
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 14).cast("int").as("__f"),
        (col("doc_id") % 3).cast("int").as("__m"),
        (col("doc_id") % 7).cast("int").as("__v"),
        (col("doc_id") % 2).cast("int").as("__gz"))
      val keep = Seq(col("doc_id"), col("__gz"), col("content"),
        col("__ct"))
      // html is built in-column (entity-escaped so extraction is
      // exactly the whitespace-normalized source text)
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("__t"), lit("&"), lit("&amp;")),
        lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
      val html = d.filter(col("__f") === 0)
        .withColumn("content", encode(concat(
          lit("<html><body><p>"), esc, lit("</p></body></html>")),
          "UTF-8"))
        .withColumn("__ct", lit("text/html")).select(keep: _*)
      val pdf = Pdf.synthPdfs(d.filter(col("__f") === 1), "__t",
          "__v", "__m", "content")
        .withColumn("__ct", lit("application/pdf")).select(keep: _*)
      val docx = Docx.synthDocx(d.filter(col("__f") === 2), "__t",
          "__m", "content")
        .withColumn("__ct", lit("application/msword-wrong"))
        .select(keep: _*)
      val rtf = Rtf.synthRtf(d.filter(col("__f") === 3), "__t",
          "__m", "content")
        .withColumn("__ct", lit("application/rtf")).select(keep: _*)
      val epub = Docx.synthEpub(d.filter(col("__f") === 4),
          "doc_id", "__t", "__m", "content")
        .withColumn("__ct", lit("application/epub+zip"))
        .select(keep: _*)
      val md = Markdown.synthMd(d.filter(col("__f") === 5),
          "doc_id", "__t", "content")
        .withColumn("__ct", lit("text/markdown")).select(keep: _*)
      // the archive-nested tier: document bytes wrapped one level
      // down (zip/tar.gz/7z/cab) — the kernel must unwrap, re-sniff
      // the member, and route again
      def nested(f: Int, kind: Int,
          inner: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
        val base = inner(d.filter(col("__f") === f))
          .withColumnRenamed("content", "__inner")
          .withColumn("__k", lit(kind).cast("int"))
        OmniCrawl.wrapArchive(base, "__inner", "__k",
            s"member$f.bin", "content")
          .withColumn("__ct", lit("application/octet-stream"))
          .select(keep: _*)
      }
      val zipPdf = nested(6, 0,
        dd => Pdf.synthPdfs(dd, "__t", "__v", "__m", "content"))
      val tgzRtf = nested(7, 1,
        dd => Rtf.synthRtf(dd, "__t", "__m", "content"))
      val szDocx = nested(8, 2,
        dd => Docx.synthDocx(dd, "__t", "__m", "content"))
      val cabPdf = nested(9, 3,
        dd => Pdf.synthPdfs(dd, "__t", "__v", "__m", "content"))
      val debRtf = nested(10, 4,
        dd => Rtf.synthRtf(dd, "__t", "__m", "content"))
      val cpioPdf = nested(11, 5,
        dd => Pdf.synthPdfs(dd, "__t", "__v", "__m", "content"))
      val isoRtf = nested(12, 6,
        dd => Rtf.synthRtf(dd, "__t", "__m", "content"))
      val lz4Pdf = nested(13, 7,
        dd => Pdf.synthPdfs(dd, "__t", "__v", "__m", "content"))
      val payloads = html.unionByName(pdf).unionByName(docx)
        .unionByName(rtf).unionByName(epub).unionByName(md)
        .unionByName(zipPdf).unionByName(tgzRtf)
        .unionByName(szDocx).unionByName(cabPdf)
        .unionByName(debRtf).unionByName(cpioPdf)
        .unionByName(isoRtf).unionByName(lz4Pdf)
        // every 5th doc's declared type LIES; routing must not care
        .withColumn("__ct", when(col("doc_id") % 5 === 0,
          lit("application/octet-stream")).otherwise(col("__ct")))
      val warcs = OmniCrawl.synthHttpWarcs(payloads, "doc_id",
        "content", "__ct", "__gz", "warc")
      val rows = Multimodal.decodeBatches(warcs, "warc",
          OmniCrawl.omniSchema)(OmniCrawl.decodeOmni)
        .select(col("doc_id"),
          when(col("is_html"), T.htmlToText(col("payload")))
            .otherwise(col("payload")).as("text"))
      val kept = rows.filter(T.qualityKeep(col("text")))
      Dedup.byFingerprint(kept, "text", "doc_id")
        .select(col("doc_id"), col("n_dups"))
    }),
    // ----- zstd container walk (RFC 8878 frame layer): per doc a
    // skippable frame (odd docs) + a content frame in a cycling
    // header layout (single-segment / fcs widths / dict-id widths /
    // checksum flag) + one pure-RLE frame — every field read back
    // by the container walk, nothing decoded
    QuerySpec("q_zstd_meta",
      // every planted frame field replayed arithmetically: the
      // skippable row (odd docs), the text frame's layout-dependent
      // dict-id/checksum fields, and the RLE frame's block counts
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           doc_id % 4 AS sel, doc_id % 2 AS sk,
           doc_id % 60 + 8 AS rn FROM documents),
         skipf AS (SELECT doc_id, 0 AS frame_idx, TRUE AS skippable,
           CAST(8 AS BIGINT) AS content_size,
           CAST(0 AS BIGINT) AS dict_id, 0 AS n_blocks, 0 AS n_raw,
           0 AS n_rle, FALSE AS has_checksum
           FROM p WHERE sk = 1),
         textf AS (SELECT doc_id, sk AS frame_idx,
           FALSE AS skippable,
           CAST(strlen(txt) AS BIGINT) AS content_size,
           CAST(CASE WHEN sel = 0 THEN 0 ELSE doc_id % 200 + 1 END
             AS BIGINT) AS dict_id,
           CAST(GREATEST(1, (strlen(txt) + 95) // 96) AS INT)
             AS n_blocks,
           CAST(GREATEST(1, (strlen(txt) + 95) // 96) AS INT)
             AS n_raw,
           0 AS n_rle,
           (sel % 2 = 1) AS has_checksum
           FROM p),
         rlef AS (SELECT doc_id, sk + 1 AS frame_idx,
           FALSE AS skippable, CAST(rn AS BIGINT) AS content_size,
           CAST(0 AS BIGINT) AS dict_id, 1 AS n_blocks, 0 AS n_raw,
           1 AS n_rle, FALSE AS has_checksum
           FROM p)
         SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           skippable, content_size, dict_id,
           CAST(n_blocks AS INT) AS n_blocks,
           CAST(n_raw AS INT) AS n_raw, CAST(n_rle AS INT) AS n_rle,
           has_checksum
         FROM (SELECT * FROM skipf UNION ALL
               SELECT * FROM textf UNION ALL
               SELECT * FROM rlef)""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 4).cast("int").as("__s"),
        (col("doc_id") % 2).cast("int").as("__k"),
        (col("doc_id") % 60 + 8).cast("int").as("__r"))
      val z = Zstd.synthZstd(d, "doc_id", "__t", "__s", "__k", "__r",
        "content")
      // the stored checksum VALUE is no longer projected: synthZstd
      // now plants the true XXH64 (verified by the decode path and
      // pinned by q_zstd_roundtrip/q_zstd_codec + ZstdEntropySpec),
      // which DuckDB cannot replay arithmetically
      Zstd.zstdFrameRows(z, "doc_id", "content")
        .select(col("doc_id"), col("frame_idx"), col("skippable"),
          col("content_size"), col("dict_id"), col("n_blocks"),
          col("n_raw"), col("n_rle"), col("has_checksum"))
    }),
    // ----- zstd raw/RLE-subset decompression: the stored-block
    // stream must hand back text ++ the planted RLE run exactly
    // ----- FULL brotli decode (RFC 7932): each doc's text — padded
    // with its own head + repetition so the LZ77 stage emits real
    // copy commands — goes through the entropy ENCODER (canonical
    // Huffman literal/command/distance codes via complex prefix-code
    // descriptions) on even docs and the stored framing on odd, and
    // must come back byte-identical; the same decoder is pinned
    // against reference-encoder goldens incl. dictionary-transform
    // streams in BrotliSpec
    QuerySpec("q_brotli_roundtrip",
      // full brotli decode must be lossless: the padded text through
      // LZ77 + Huffman (or the stored framing) and back is the text
      """SELECT doc_id, COALESCE(text, '') || ' ' ||
           substr(COALESCE(text, ''), 1, 64) ||
           repeat('pad ', CAST(doc_id % 17 AS INT)) AS brotli_text
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")), lit(" "),
          substring(coalesce(col("text"), lit("")), 1, 64),
          repeat(lit("pad "), (col("doc_id") % 17).cast("int")))
          .as("__t"),
        (col("doc_id") % 2).cast("int").as("__m"))
      val b = Brotli.synthBrotli(d, "doc_id", "__t", "__m", "content")
      Multimodal.decodeBatches(b, "content",
          Brotli.brotliTextSchema)(Brotli.decodeBrotliText)
        .select(col("doc_id"), col("brotli_text"))
    }),
    // ----- xz container round-trip: the repo's own encoder (real
    // xz container, uncompressed LZMA2 chunks — reference-verified
    // at generation) through the full decoder with the CRC32 check
    // verified; the LZMA entropy layer itself is pinned by the
    // reference-liblzma goldens in XzSpec
    QuerySpec("q_xz_roundtrip",
      // xz container round-trip is lossless
      """SELECT doc_id, COALESCE(text, '') || ' xz ' ||
           substr(COALESCE(text, ''), 1, 32) AS xz_text
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")), lit(" xz "),
          substring(coalesce(col("text"), lit("")), 1, 32))
          .as("__t"))
      val x = Xz.synthXz(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(x, "content",
          Xz.xzTextSchema)(Xz.decodeXzText)
        .select(col("doc_id"), col("xz_text"))
    }),
    // ----- LZ4 frame codec (the fast-tier dump/cache format):
    // padded doc text through the repo's greedy block encoder —
    // whose frames the reference lz4 CLI extracted byte-exactly at
    // fixture-generation time (Lz4Spec + Lz4PinGen) — and back
    // through the from-spec frame decoder with the header HC and
    // XXH32 content checksum verified
    QuerySpec("q_lz4_roundtrip",
      // the LZ4 frame round trip must be lossless
      """SELECT doc_id, COALESCE(text, '') || ' lz4 ' ||
           substr(COALESCE(text, ''), 1, 40) AS lz4_text
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")), lit(" lz4 "),
          substring(coalesce(col("text"), lit("")), 1, 40))
          .as("__t"))
      val z = Lz4.synthLz4(d, "__t", "content")
      Multimodal.decodeBatches(z, "content",
          Lz4.lz4TextSchema)(Lz4.decodeLz4Text)
        .select(col("doc_id"), col("lz4_text"))
    }),
    // ----- Unix compress .Z (LZW, the FTP-era dump format): padded
    // doc text through the repo's LZW encoder — whose streams the
    // system uncompress decoded byte-exactly across every code-
    // width crossing at generation time (UnixZSpec + UnixZPinGen)
    // — and back through the from-spec decoder with the segment-
    // relative 8-code-group realignment
    QuerySpec("q_z_roundtrip",
      // the .Z LZW round trip must be lossless
      """SELECT doc_id, COALESCE(text, '') || ' Z ' ||
           substr(COALESCE(text, ''), 1, 36) AS z_text
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")), lit(" Z "),
          substring(coalesce(col("text"), lit("")), 1, 36))
          .as("__t"))
      val z = UnixZ.synthZ(d, "__t", "content")
      Multimodal.decodeBatches(z, "content",
          UnixZ.zTextSchema)(UnixZ.decodeZText)
        .select(col("doc_id"), col("z_text"))
    }),
    // ----- FULL bzip2 codec (the dump-distribution format): padded
    // doc text through the repo's own BWT+MTF+RLE+Huffman encoder —
    // whose output the reference bzip2 tool decoded bit-exactly at
    // generation time (Bzip2Spec pins regeneration) — and back
    // through the from-spec decoder with both CRC layers verified
    QuerySpec("q_bzip2_roundtrip",
      // full bzip2 codec must be lossless: padded text (the z-run
      // exercises RLE1 escapes) through BWT+MTF+RLE+Huffman and back
      """SELECT doc_id, COALESCE(text, '') || ' ' ||
           repeat('z', CAST(doc_id % 60 + 8 AS INT)) ||
           substr(COALESCE(text, ''), 1, 48) AS bzip2_text
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")), lit(" "),
          repeat(lit("z"), (col("doc_id") % 60 + 8).cast("int")),
          substring(coalesce(col("text"), lit("")), 1, 48))
          .as("__t"))
      val b = Bzip2.synthBzip2(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(b, "content",
          Bzip2.bzip2TextSchema)(Bzip2.decodeBzip2Text)
        .select(col("doc_id"), col("bzip2_text"))
    }),
    QuerySpec("q_zstd_roundtrip",
      // stored-block decode must be lossless: text plus the RLE run
      """SELECT doc_id, COALESCE(text, '') ||
           repeat('z', CAST(doc_id % 60 + 8 AS INT)) AS zstd_text
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 4).cast("int").as("__s"),
        (col("doc_id") % 2).cast("int").as("__k"),
        (col("doc_id") % 60 + 8).cast("int").as("__r"))
      val z = Zstd.synthZstd(d, "doc_id", "__t", "__s", "__k", "__r",
        "content")
      Multimodal.decodeBatches(z, "content",
          Zstd.zstdTextSchema)(Zstd.decodeZstdText)
        .select(col("doc_id"), col("zstd_text"))
    }),
    // ----- FULL zstd entropy decode (FSE + Huffman compressed
    // blocks, RFC 8878): each doc's text — padded with planted
    // repetition so the LZ77 stage emits real sequences — goes
    // through the entropy ENCODER (canonical Huffman literals +
    // predefined-FSE-coded sequences) and must come back
    // byte-identical through zstd-jni, XXH64 checksum verified.
    // Layouts cycle block size, 1-/4-stream literals,
    // single-segment headers and the checksum flag; the same decode
    // path is pinned against reference-CLI frames in ZstdEntropySpec.
    QuerySpec("q_zstd_codec",
      // full entropy decode must be lossless: the padded text through
      // LZ77 + Huffman + FSE and back is the padded text
      """SELECT doc_id, COALESCE(text, '') || ' ' ||
           substr(COALESCE(text, ''), 1, 64) ||
           repeat('pad ', CAST(doc_id % 17 AS INT)) AS zstd_text
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")), lit(" "),
          substring(coalesce(col("text"), lit("")), 1, 64),
          repeat(lit("pad "), (col("doc_id") % 17).cast("int")))
          .as("__t"),
        (col("doc_id") % 30).cast("int").as("__s"))
      val z = Zstd.synthZstdEntropy(d, "doc_id", "__t", "__s",
        "content")
      Multimodal.decodeBatches(z, "content",
          Zstd.zstdTextSchema)(Zstd.decodeZstdText)
        .select(col("doc_id"), col("zstd_text"))
    }),
    // ----- REAL ustar walk: per-doc tar (checksum-verified 512-byte
    // headers, two-zero-block terminator), every 2nd doc shipped as
    // .tar.gz through the gzip composition — both layouts against
    // one arithmetic oracle
    QuerySpec("q_tar_entries",
      // the ustar walk must read back the planted member set through
      // both the plain and the gunzip-composed path
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt,
           CAST(doc_id % 3 + 1 AS INT) AS n FROM documents)
         SELECT doc_id,
           'm' || t.j || '.txt' AS entry_name,
           '0' AS typeflag,
           CAST(strlen('t' || t.j || ':' || txt) AS BIGINT) AS u_size
         FROM p, LATERAL unnest(generate_series(0, n - 1)) AS t(j)""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3 + 1).cast("int").as("__n"),
        (col("doc_id") % 2).cast("int").as("__gz"))
      val tars = Archive.synthTars(d, "doc_id", "__t", "__n", "__gz",
        "content")
      val plain = Archive.tarEntryRows(
        tars.filter(col("__gz") === 0), "doc_id", "content",
        gzipped = false)
      val gz = Archive.tarEntryRows(
        tars.filter(col("__gz") === 1), "doc_id", "content",
        gzipped = true)
      plain.unionByName(gz)
        .select(col("doc_id"), col("entry_name"), col("typeflag"),
          col("u_size"))
    }),
    // ----- REAL WARC parse (ISO 28500, the web-crawl interchange
    // format): request+response record pairs per doc — version line,
    // header block, Content-Length-delimited payload — with the
    // response's HTTP envelope split into status + body; every 2nd
    // doc ships as .warc.gz (one gzip member per record, the
    // seekability layout), so the concatenated-member splitter runs
    // against the same oracle
    QuerySpec("q_warc_records",
      // the WARC walk must read back the planted record structure:
      // request payloads pass through whole (not an HTTP response),
      // response payloads split at the first CRLFCRLF into 200 + body;
      // content lengths are the exact synthesized byte counts
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt
           FROM documents),
         req AS (SELECT doc_id,
           'GET /doc/' || doc_id || ' HTTP/1.1' || chr(13) || chr(10)
             || 'Host: example.test' || chr(13) || chr(10)
             || chr(13) || chr(10) AS body
           FROM p)
         SELECT p.doc_id, CAST(0 AS INT) AS rec_idx,
           'request' AS warc_type,
           'http://example.test/doc/' || p.doc_id AS target_uri,
           CAST(strlen(req.body) AS BIGINT) AS content_length,
           CAST(NULL AS INT) AS http_status,
           req.body AS body_text
         FROM p JOIN req ON p.doc_id = req.doc_id
         UNION ALL
         SELECT doc_id, CAST(1 AS INT), 'response',
           'http://example.test/doc/' || doc_id,
           CAST(45 + strlen(txt) AS BIGINT),
           CAST(200 AS INT), txt
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 2).cast("int").as("__gz"))
      val warcs = Archive.synthWarcs(d, "doc_id", "__t", "__gz",
        "content")
      val plain = Archive.warcRecordRows(
        warcs.filter(col("__gz") === 0), "doc_id", "content",
        gzipped = false)
      val gz = Archive.warcRecordRows(
        warcs.filter(col("__gz") === 1), "doc_id", "content",
        gzipped = true)
      plain.unionByName(gz)
        .select(col("doc_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          col("http_status"), col("body_text"))
    }),
    // ----- .warc.zst + per-row compression SNIFFING: the same
    // planted record structure with doc_id%3 cycling plain /
    // gzip-member-per-record / zstd-ENTROPY-frame-per-record
    // payloads through ONE reader call — the mixed-batch reality of
    // a crawl ingest now that Common Crawl is moving to zstd; the
    // zstd leg exercises the full Huffman/FSE decode + XXH64
    // verification per record
    QuerySpec("q_warc_zst",
      // the sniffing reader must recover the identical record
      // structure no matter which of the three compressions wrapped
      // each row — the oracle is compression-independent by design
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt
           FROM documents),
         req AS (SELECT doc_id,
           'GET /doc/' || doc_id || ' HTTP/1.1' || chr(13) || chr(10)
             || 'Host: example.test' || chr(13) || chr(10)
             || chr(13) || chr(10) AS body
           FROM p)
         SELECT p.doc_id, CAST(0 AS INT) AS rec_idx,
           'request' AS warc_type,
           'http://example.test/doc/' || p.doc_id AS target_uri,
           CAST(strlen(req.body) AS BIGINT) AS content_length,
           CAST(NULL AS INT) AS http_status,
           req.body AS body_text
         FROM p JOIN req ON p.doc_id = req.doc_id
         UNION ALL
         SELECT doc_id, CAST(1 AS INT), 'response',
           'http://example.test/doc/' || doc_id,
           CAST(45 + strlen(txt) AS BIGINT),
           CAST(200 AS INT), txt
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__c"))
      val warcs = Archive.synthWarcsComp(d, "doc_id", "__t", "__c",
        "content")
      Archive.warcRecordRowsAuto(warcs, "doc_id", "content")
        .select(col("doc_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          col("http_status"), col("body_text"))
    }),
    // ----- REAL HTTP payload decode: response bodies framed through
    // identity/chunked/gzip/chunked+gzip/zlib-deflate/raw-deflate/
    // zstd/BROTLI Content- and Transfer-Encodings (doc_id%8 cycles),
    // with a multi-byte UTF-8 marker so chunk boundaries that split
    // a code point surface; since round 14 the br row (f=5) carries
    // a real entropy-coded brotli body that must decode exactly
    QuerySpec("q_warc_http",
      // every framing must reproduce the planted body byte-exactly —
      // except declared-brotli (f=5), which must refuse with NULLs
      """SELECT doc_id,
           CAST(200 AS INT) AS http_status,
           'text/plain' AS content_mime,
           'UTF-8' AS charset,
           COALESCE(text, '') || ' Ωμé→' AS body_text
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")), lit(" Ωμé→"))
          .as("__b"),
        (col("doc_id") % 8).cast("int").as("__f"),
        lit(0).cast("int").as("__c"))
      val warcs = Archive.synthHttpWarcs(d, "doc_id", "__b", "__f",
        "__c", "content")
      Archive.warcRecordRowsAuto(warcs, "doc_id", "content")
        .filter(col("warc_type") === "response")
        .select(col("doc_id"), col("http_status"),
          col("content_mime"), col("charset"), col("body_text"))
    }),
    // ----- charset sniffing: windows-1251 via the Content-Type
    // charset param, Shift_JIS via <meta charset>, EUC-KR via the
    // http-equiv form, UTF-8 via BOM (stripped) and via explicit
    // param — each over identity/chunked/gzip framing (doc_id%3);
    // non-ASCII markers make a wrong-charset decode hash-diverge
    QuerySpec("q_crawl_charset",
      // the sniffed charset must reconstruct the exact planted string
      // (ASCII-sanitized text + a marker only representable in that
      // charset); the charset column pins WHICH decoder fired
      """WITH p AS (SELECT doc_id,
           regexp_replace(COALESCE(text, ''), '[^ -~]', '', 'g')
             AS s, doc_id % 5 AS m
           FROM documents)
         SELECT doc_id,
           CASE WHEN m IN (0, 3) THEN 'text/plain'
                ELSE 'text/html' END AS content_mime,
           CASE m WHEN 0 THEN 'UTF-8'
                  WHEN 1 THEN 'windows-1251'
                  WHEN 2 THEN 'Shift_JIS'
                  WHEN 3 THEN 'UTF-8'
                  ELSE 'EUC-KR' END AS charset,
           CASE m WHEN 0 THEN s || ' Ωé'
                  WHEN 1 THEN s || ' Яблоко'
                  WHEN 2 THEN '<meta charset="shift_jis">' || s ||
                    ' 日本語'
                  WHEN 3 THEN s || ' Ωé'
                  ELSE '<meta http-equiv="Content-Type" ' ||
                    'content="text/html; charset=euc-kr">' || s ||
                    ' 한국어' END AS body_text
         FROM p""",
      (s, dir) => {
      val ascii = regexp_replace(coalesce(col("text"), lit("")),
        "[^ -~]", "")
      val mode = (col("doc_id") % 5).cast("int")
      val body = when(mode === 0, concat(ascii, lit(" Ωé")))
        .when(mode === 1, concat(ascii, lit(" Яблоко")))
        .when(mode === 2, concat(lit("<meta charset=\"shift_jis\">"),
          ascii, lit(" 日本語")))
        .when(mode === 3, concat(ascii, lit(" Ωé")))
        .otherwise(concat(lit("<meta http-equiv=\"Content-Type\" " +
          "content=\"text/html; charset=euc-kr\">"),
          ascii, lit(" 한국어")))
      val d = tp(s, dir, "documents").select(col("doc_id"),
        body.as("__b"),
        (col("doc_id") % 3).cast("int").as("__f"),
        mode.as("__c"))
      val warcs = Archive.synthHttpWarcs(d, "doc_id", "__b", "__f",
        "__c", "content")
      Archive.warcRecordRowsAuto(warcs, "doc_id", "content")
        .filter(col("warc_type") === "response")
        .select(col("doc_id"), col("content_mime"), col("charset"),
          col("body_text"))
    }),
    // ----- PDF font-encoding decode: the show-string bytes are
    // deliberately code-shifted (Type0/ToUnicode, /Differences over
    // uniXXXX names, single-byte ToUnicode — doc_id%3), so a
    // raw-byte decode provably mojibakes; only the font machinery
    // recovers the planted text byte-for-byte
    QuerySpec("q_pdf_fonts",
      // the font-decode chain must hand back the planted text exactly;
      // the oracle replays it verbatim (the code-shifted bytes never
      // appear — only a correct /ToUnicode//Differences walk matches)
      """SELECT doc_id, COALESCE(text, '') AS text FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val pdfs = Pdf.synthFontPdfs(d, "__t", "__m", "content")
      Multimodal.decodeBatches(pdfs, "content",
          Pdf.pdfTextSchema)(Pdf.decodePdfText)
        .select(col("doc_id"), col("pdf_text").as("text"))
    }),
    // ----- encrypted-PDF extraction (standard security handler,
    // EMPTY user password — the owner-password-only class any reader
    // may open): doc_id%4 cycles RC4-40 / RC4-128 / AES-128-CBC /
    // AES-256-R6 (ISO 32000-2 Algorithm 2.B hardened hash); correct
    // key derivation + decrypt-then-inflate is the only way the
    // planted text comes back
    QuerySpec("q_pdf_encrypted",
      // decryption is exact or refused: text identity like q_pdf_text
      """SELECT doc_id, COALESCE(text, '') AS text FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 4).cast("int").as("__m"))
      val pdfs = Pdf.synthPdfsEncrypted(d, "doc_id", "__t", "__m",
        "content")
      Multimodal.decodeBatches(pdfs, "content",
          Pdf.pdfTextSchema)(Pdf.decodePdfText)
        .select(col("doc_id"), col("pdf_text").as("text"))
    }),
    // ----- DOCX text extraction: real OOXML zips (central-dir +
    // CRC-verified local headers) whose word/document.xml plants the
    // doc text across paragraph runs — doc_id%3 cycles one-run/
    // stored, split-runs/deflated, and tab+comment+instrText-decoy
    // layouts; the w:t walk must hand the text back exactly
    QuerySpec("q_docx_text",
      // paragraphs split on newline and rejoin with one newline —
      // identity; n_paras = newline count + 1
      """SELECT doc_id, COALESCE(text, '') AS text,
         CAST(length(COALESCE(text, '')) -
           length(replace(COALESCE(text, ''), chr(10), '')) + 1
           AS INTEGER) AS n_paras
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val docx = Docx.synthDocx(d, "__t", "__m", "content")
      Multimodal.decodeBatches(docx, "content",
          Docx.docxTextSchema)(Docx.decodeDocxText)
        .select(col("doc_id"), col("docx_text").as("text"),
          col("n_paras"))
    }),
    // ----- XLSX shared strings: xl/sharedStrings.xml through plain,
    // rich-run, and phonetic-decoy layouts — items = the doc text
    // split on spaces, so the si walk replays as a string transform
    QuerySpec("q_xlsx_strings",
      // split on space + join with newline == replace space->newline;
      // n_strings = space count + 1
      """SELECT doc_id,
         replace(COALESCE(text, ''), ' ', chr(10)) AS xlsx_text,
         CAST(length(COALESCE(text, '')) -
           length(replace(COALESCE(text, ''), ' ', '')) + 1
           AS INTEGER) AS n_strings
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val xlsx = Docx.synthXlsx(d, "__t", "__m", "content")
      Multimodal.decodeBatches(xlsx, "content",
          Docx.xlsxStringsSchema)(Docx.decodeXlsxStrings)
        .select(col("doc_id"), col("xlsx_text"), col("n_strings"))
    }),
    // ----- XLSX worksheet cells: shared refs + inline strings +
    // exact centi-unit numerics through sheet XML (the modern-format
    // sibling of the BIFF8 RK path). Values are identical across the
    // three layout modes (plain/rich-run+t="n"/two-sheet+formula-
    // decoy), so the oracle replays them closed-form from doc_id
    QuerySpec("q_xlsx_cells",
      // string cells = words then the inline plant; numerics replay
      // closed-form: 100·(7s+1) + (13s+3) + 100·(s+5) + (3s+7)
      """SELECT doc_id,
         replace(COALESCE(text, ''), ' ', chr(10)) || chr(10) ||
           'inline ' || doc_id AS cell_text,
         CAST(length(COALESCE(text, '')) -
           length(replace(COALESCE(text, ''), ' ', '')) + 6
           AS INTEGER) AS n_cells,
         CAST(816 * doc_id + 610 AS BIGINT) AS num_centi_sum
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val xlsx = Docx.synthXlsxCells(d, "doc_id", "__t", "__m",
        "content")
      Multimodal.decodeBatches(xlsx, "content",
          Docx.xlsxCellsSchema)(Docx.decodeXlsxCells)
        .select(col("doc_id"), col("cell_text"), col("n_cells"),
          col("num_centi_sum"))
    }),
    // ----- PPTX slide text: DrawingML a:t/a:p/a:br through one-run,
    // split-run, and br-routed layouts; slide 2 carries a footer so
    // numeric slide ordering is verified too
    QuerySpec("q_pptx_text",
      // slides join with one newline: doc text then the s2 footer
      """SELECT doc_id,
         COALESCE(text, '') || chr(10) || 's2 ' || doc_id
           AS pptx_text,
         CAST(2 AS INTEGER) AS n_slides
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val pptx = Docx.synthPptx(d, "doc_id", "__t", "__m", "content")
      Multimodal.decodeBatches(pptx, "content",
          Docx.pptxTextSchema)(Docx.decodePptxText)
        .select(col("doc_id"), col("pptx_text"), col("n_slides"))
    }),
    // ----- ODT text: OpenDocument content.xml through plain,
    // heading+annotation-decoy, and tab/space-element layouts
    QuerySpec("q_odt_text",
      // paragraph identity like docx
      """SELECT doc_id, COALESCE(text, '') AS text,
         CAST(length(COALESCE(text, '')) -
           length(replace(COALESCE(text, ''), chr(10), '')) + 1
           AS INTEGER) AS n_paras
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val odt = Docx.synthOdt(d, "__t", "__m", "content")
      Multimodal.decodeBatches(odt, "content",
          Docx.odtTextSchema)(Docx.decodeOdtText)
        .select(col("doc_id"), col("odt_text").as("text"),
          col("n_paras"))
    }),
    // ----- legacy Office (MS-CFB) container walk: planted streams
    // through BOTH the miniFAT (even docs) and FAT (odd docs,
    // NUL-padded past the 4096 cutoff) paths; WordDocument bytes
    // must round-trip and the msword label must classify
    QuerySpec("q_cfb_streams",
      // label constant, stream census constant, text identity
      """SELECT doc_id,
         'application/msword' AS cfb_label,
         CAST(2 AS INTEGER) AS n_streams,
         chr(5) || 'SummaryInformation,WordDocument'
           AS stream_names,
         COALESCE(text, '') AS text
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val cfb = Cfb.synthCfb(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(cfb, "content",
          Cfb.cfbSchema)(Cfb.decodeCfb)
        .select(col("doc_id"), col("cfb_label"), col("n_streams"),
          col("stream_names"), col("word_text").as("text"))
    }),
    // ----- legacy .doc TEXT through the real Word 97 piece table:
    // FIB → 1Table clx → PlcPcd pieces, cp1252-compressed AND
    // UTF-16LE paths both exercised by the half-split fixture
    QuerySpec("q_doc_text",
      // identity text through the piece-table reconstruction
      """SELECT doc_id, COALESCE(text, '') AS text FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val docs = Cfb.synthDoc(d, "__t", "content")
      Multimodal.decodeBatches(docs, "content",
          Cfb.docTextSchema)(Cfb.decodeDocText)
        .select(col("doc_id"), col("doc_text").as("text"))
    }),
    // ----- legacy .xls (BIFF8) cells through the real record walk:
    // SST shared strings with a Continue-straddled string (fresh
    // fHighByte per fragment — widths can switch mid-string),
    // LABELSST text identity, and every numeric encoding (RK int,
    // RK x100, MULRK, NUMBER) summed in exact centi-units
    QuerySpec("q_xls_cells",
      // identity text through SST straddle + exact centi arithmetic:
      // (7d+1)*100 + (13d+3) + (d+5)*100 + (d+6)*100 + 2d*100
      """SELECT doc_id, COALESCE(text, '') AS text,
         'Data,Numbers' AS sheet_names,
         CAST(1113 * doc_id + 1203 AS BIGINT) AS rk_centi_sum
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val xls = Xls.synthXls(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(xls, "content",
          Xls.xlsSchema)(Xls.decodeXls)
        .select(col("doc_id"), col("xls_text").as("text"),
          col("sheet_names"), col("rk_centi_sum"))
    }),
    // ----- legacy .ppt through the real record-tree walk: text
    // atoms out of the document's SlideListWithText (bytes-atom for
    // slide 1's latin-1 text, UTF-16LE chars-atom for the fixed
    // slide-2 closer), slide census from Slide containers, honest
    // encryption refusal via the Current User headerToken
    QuerySpec("q_ppt_text",
      // slide-1 text + '\n' + the fixed slide-2 closer
      """SELECT doc_id,
         COALESCE(text, '') || chr(10) || 'fin Ω' AS text,
         2 AS n_slides, 2 AS n_text_atoms
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val ppt = Ppt.synthPpt(d, "__t", "content")
      Multimodal.decodeBatches(ppt, "content",
          Ppt.pptSchema)(Ppt.decodePpt)
        .select(col("doc_id"), col("ppt_text").as("text"),
          col("n_slides"), col("n_text_atoms"))
    }),
    // ----- Jupyter notebooks through the real nbformat structure:
    // markdown + code sources (string and list-of-lines spellings,
    // v3 worksheets/input and v4 cells), outputs excluded, language
    // from language_info/kernelspec — layout rotating on doc_id%3
    QuerySpec("q_ipynb_text",
      // markdown cell (doc text) + '\n' + the fixed code cell
      """SELECT doc_id,
         COALESCE(text, '') || chr(10) ||
           'x = 6 * 7' || chr(10) || 'print(x)  # Ω' AS text,
         2 AS n_cells, 1 AS n_code_cells, 'python' AS language
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val nb = Ipynb.synthIpynb(d, "doc_id", "__t", "content",
        "x = 6 * 7\nprint(x)  # Ω")
      Multimodal.decodeBatches(nb, "content",
          Ipynb.ipynbSchema)(Ipynb.decodeIpynb)
        .select(col("doc_id"), col("nb_text").as("text"),
          col("n_cells"), col("n_code_cells"), col("language"))
    }),
    // ----- SRT subtitles through the real block parser: index /
    // timing / text blocks, exact summed cue duration in ms
    QuerySpec("q_srt_text",
      // flattened doc text as cue 1 + the id-derived closer; duration
      // replays the writer's timing arithmetic
      """SELECT doc_id,
         replace(COALESCE(text, ''), chr(10), ' ') || chr(10) ||
           'closing cue ' || CAST(doc_id % 10 AS VARCHAR) AS text,
         2 AS n_cues,
         CAST(2 * (1500 + (doc_id % 7) * 10) AS BIGINT) AS duration_ms
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val srt = Subtitles.synthSubs(d, "doc_id", "__t", "content",
        vtt = false)
      Multimodal.decodeBatches(srt, "content",
          Subtitles.subSchema)(Subtitles.decodeSrt)
        .select(col("doc_id"), col("sub_text").as("text"),
          col("n_cues"), col("duration_ms"))
    }),
    // ----- WebVTT through the real parser: NOTE/STYLE exclusion,
    // cue identifiers + settings, voice/italic tag stripping and
    // entity unescape on the way out
    QuerySpec("q_vtt_text",
      """SELECT doc_id,
         replace(COALESCE(text, ''), chr(10), ' ') || chr(10) ||
           'closing cue ' || CAST(doc_id % 10 AS VARCHAR) AS text,
         2 AS n_cues,
         CAST(2 * (1500 + (doc_id % 7) * 10) AS BIGINT) AS duration_ms
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val vtt = Subtitles.synthSubs(d, "doc_id", "__t", "content",
        vtt = true)
      Multimodal.decodeBatches(vtt, "content",
          Subtitles.subSchema)(Subtitles.decodeVtt)
        .select(col("doc_id"), col("sub_text").as("text"),
          col("n_cues"), col("duration_ms"))
    }),
    // ----- RSS/Atom feeds over the shared XML scanner: dialect by
    // root element (namespace-prefix-stripped), feed title only from
    // the channel/feed's IMMEDIATE child (image/source title traps
    // planted), item title+body in document order, CDATA bodies raw
    QuerySpec("q_feed_text",
      // headline + doc-text body + title-only closer; dialect rotates
      """SELECT doc_id,
         'Feed ' || CAST(doc_id % 10 AS VARCHAR) AS feed_title,
         'headline' || chr(10) || COALESCE(text, '') || chr(10) ||
           'closer ' || CAST(doc_id % 5 AS VARCHAR) AS text,
         2 AS n_items,
         CASE WHEN doc_id % 3 = 2 THEN 'atom' ELSE 'rss' END AS kind
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val feed = Feed.synthFeed(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(feed, "content",
          Feed.feedSchema)(Feed.decodeFeed)
        .select(col("doc_id"), col("feed_title"),
          col("feed_text").as("text"), col("n_items"), col("kind"))
    }),
    // ----- Outlook .msg through the [MS-OXMSG] property streams:
    // subject/body/sender via __substg1.0_PPPPTTTT with both the
    // UTF-16LE (001F) and 8-bit (001E) forms rotating on doc_id%3,
    // the non-latin-1 sender forcing per-field fallback in narrow
    // modes; properties/decoy streams excluded
    QuerySpec("q_msg_text",
      // id-derived subject + doc-text body + the fixed wide sender;
      // the MELA-wrapped RTF body recovers the same text
      """SELECT doc_id,
         'msg ' || CAST(doc_id % 100 AS VARCHAR) AS subject,
         COALESCE(text, '') AS text,
         'Fixture Sender Ω' AS sender,
         COALESCE(text, '') AS rtf_text
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val msg = Msg.synthMsg(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(msg, "content",
          Msg.msgSchema)(Msg.decodeMsg)
        .select(col("doc_id"), col("subject"),
          col("msg_body").as("text"), col("sender"),
          col("rtf_text"))
    }),
    // ----- .msg ATTACHMENTS ([MS-OXMSG] __attach storages over the
    // CFB directory-tree walk): per message two nested documents —
    // a text file and a gzip — listed with sniffed formats, sizes,
    // and the gzip's INNER format after unwrapping
    QuerySpec("q_msg_attach",
      // two attachments per message: the plain member's byte size and
      // the gzip's UNWRAPPED size both replay from the text; labels
      // come from real sniffing, inner label from a real gunzip
      """WITH p AS (SELECT doc_id, COALESCE(text, '') AS txt
           FROM documents)
         SELECT doc_id, 'a0.txt' AS attach_name,
           'text/plain' AS label,
           CAST(strlen('a0:' || txt) AS BIGINT) AS u_size,
           CAST(NULL AS VARCHAR) AS inner_label
         FROM p
         UNION ALL
         SELECT doc_id, 'a1.gz', 'application/gzip',
           CAST(strlen('a1:' || txt) AS BIGINT), 'text/plain'
         FROM p""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val msg = Msg.synthMsgAttach(d, "doc_id", "__t", "content")
      Msg.msgAttachRows(msg, "doc_id", "content")
        .select(col("doc_id"), col("attach_name"), col("label"),
          col("u_size"), col("inner_label"))
    }),
    // ----- iCalendar through the real content-line parser: line
    // unfolding (folds land inside escape sequences in mode 1),
    // TEXT unescape, VALARM/parameter decoys, exact summed
    // DTSTART→DTEND durations in seconds
    QuerySpec("q_ics_text",
      // event 1: first line as summary + full text as description;
      // event 2: the id-derived closer; durations replay the writer
      """SELECT doc_id,
         split_part(COALESCE(text, ''), chr(10), 1) || chr(10) ||
           COALESCE(text, '') || chr(10) ||
           'closing event ' || CAST(doc_id % 9 AS VARCHAR) AS text,
         2 AS n_events,
         CAST(2 * (1800 + (doc_id % 11) * 60) AS BIGINT) AS duration_s
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val ics = Vobject.synthIcs(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(ics, "content",
          Vobject.icsSchema)(Vobject.decodeIcs)
        .select(col("doc_id"), col("cal_text").as("text"),
          col("n_events"), col("duration_s"))
    }),
    // ----- vCard (4.0 plain / folded / 2.1 quoted-printable)
    QuerySpec("q_vcf_text",
      // FN = flattened doc text, ORG/EMAIL fixed per id
      """SELECT doc_id,
         replace(COALESCE(text, ''), chr(10), ' ') || chr(10) ||
           'Org ' || CAST(doc_id % 20 AS VARCHAR) || chr(10) ||
           'card@example.test' AS text,
         1 AS n_cards
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val vcf = Vobject.synthVcf(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(vcf, "content",
          Vobject.vcfSchema)(Vobject.decodeVcf)
        .select(col("doc_id"), col("card_text").as("text"),
          col("n_cards"))
    }),
    // ----- SQLite databases through the real b-tree walk: schema
    // discovery on page 1, interior→leaf traversal, an overflow
    // chain on row 3's long body, exact integer-column sums
    QuerySpec("q_sqlite_rows",
      // body cells concatenated (halves + the overflow pad row);
      // int_sum replays (3d+1)+(3d+2)+(3d+3)
      """SELECT doc_id,
         COALESCE(text, '') || 'pad:' || repeat('x', 600) AS text,
         3 AS n_rows, 1 AS n_tables,
         CAST(9 * doc_id + 6 AS BIGINT) AS int_sum
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val db = Sqlite.synthSqlite(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(db, "content",
          Sqlite.sqliteSchema)(Sqlite.decodeSqlite)
        .select(col("doc_id"), col("db_text").as("text"),
          col("n_rows"), col("n_tables"), col("int_sum"))
    }),
    // ----- dBase .dbf tables through the real fixed-width layout:
    // field descriptors, deleted-row exclusion, trailing-pad trims,
    // exact integer numerics
    QuerySpec("q_dbf_rows",
      // fixed titles + rtrimmed 254-char chunks; int_sum replays
      // (5d+1)+(5d+2)+(5d+3)
      """SELECT doc_id,
         'p1' || rtrim(substr(replace(COALESCE(text, ''), chr(10), ' '), 1, 254)) ||
         'p2' || rtrim(substr(replace(COALESCE(text, ''), chr(10), ' '), 255, 254)) ||
         'p3' || rtrim(substr(replace(COALESCE(text, ''), chr(10), ' '), 509, 254)) AS text,
         3 AS n_rows, 1 AS n_deleted,
         CAST(15 * doc_id + 6 AS BIGINT) AS int_sum
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val dbf = Dbf.synthDbf(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(dbf, "content",
          Dbf.dbfSchema)(Dbf.decodeDbf)
        .select(col("doc_id"), col("dbf_text").as("text"),
          col("n_rows"), col("n_deleted"), col("int_sum"))
    }),
    // ----- Markdown → plain text (a CommonMark subset): heading/
    // emphasis/link/list/quote unwrapping with escape handling,
    // fences verbatim, thematic-break/ref-definition/html decoys
    QuerySpec("q_md_text",
      // the writer's exact shape replayed: heading + body + break gap
      // + code + html decoy text; n_links counts the i%4==3 lines
      """SELECT doc_id,
         'Doc ' || CAST(doc_id % 50 AS VARCHAR) || chr(10) || chr(10)
           || COALESCE(text, '') || chr(10) || chr(10) || chr(10)
           || 'val x = 6 * 7 // fixed' || chr(10) || chr(10)
           || 'html tag stripped' || chr(10) AS text,
         1 AS n_headings,
         CAST((length(COALESCE(text, ''))
           - length(replace(COALESCE(text, ''), chr(10), ''))
           + 1) / 4 AS INTEGER) AS n_links,
         1 AS n_code_blocks,
         'fm ' || CAST(doc_id % 30 AS VARCHAR) AS fm_title,
         4 AS n_fm_keys
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"))
      val md = Markdown.synthMd(d, "doc_id", "__t", "content")
      Multimodal.decodeBatches(md, "content",
          Markdown.mdSchema)(Markdown.decodeMd)
        .select(col("doc_id"), col("md_text").as("text"),
          col("n_headings"), col("n_links"), col("n_code_blocks"),
          col("fm_title"), col("n_fm_keys"))
    }),
    // ----- two-layer dispatch: gzip/zstd wrappers unwrapped through
    // the REAL decoders (member walk / entropy decode) and the
    // interior re-sniffed — tar.gz and json.zst route by what they
    // carry, not by their wrapper
    QuerySpec("q_sniff_deep",
      // wrapper → interior mapping replayed as two CASEs
      """SELECT doc_id,
         CASE doc_id % 6
           WHEN 2 THEN 'application/zstd'
           WHEN 3 THEN 'application/zstd'
           WHEN 4 THEN 'application/x-ipynb+json'
           ELSE 'application/gzip' END AS outer_format,
         CASE doc_id % 6
           WHEN 0 THEN 'application/x-tar'
           WHEN 1 THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
           WHEN 2 THEN 'application/rss+xml'
           WHEN 3 THEN 'application/pdf'
           WHEN 4 THEN 'application/x-ipynb+json'
           ELSE 'application/vnd.sqlite3' END AS inner_format
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 6).cast("int").as("__m"))
      val payloads = Sniff.synthDeep(d, "doc_id", "__t", "__m",
        "content")
      Multimodal.decodeBatches(payloads, "content",
          Sniff.sniffDeepSchema)(Sniff.decodeSniffDeep)
        .select(col("doc_id"), col("outer_format"),
          col("inner_format"))
    }),
    // ----- GPS traces (GPX + KML) over the shared XML scanner:
    // exact micro-degree decimal parsing (never a float
    // round-trip), point censuses, file-level name decoys excluded
    QuerySpec("q_gpx_trace",
      // the affine point forms replayed in closed form: GPX has the
      // 3+d%5 trkpts PLUS one wpt
      """SELECT doc_id,
         'route ' || CAST(doc_id % 40 AS VARCHAR) AS trace_name,
         CAST(4 + doc_id % 5 AS INTEGER) AS n_points,
         CAST((4 + doc_id % 5) * (10000000 + doc_id % 1000000)
           + 1000 * ((3 + doc_id % 5) * (4 + doc_id % 5) / 2)
           AS BIGINT) AS lat_micro_sum,
         CAST(-((4 + doc_id % 5) * (20000000 + doc_id % 2000000)
           + 1000 * ((3 + doc_id % 5) * (4 + doc_id % 5) / 2))
           AS BIGINT) AS lon_micro_sum
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"))
      val gpx = Gpx.synthGeo(d, "doc_id", "content", kml = false)
      Multimodal.decodeBatches(gpx, "content",
          Gpx.traceSchema)(Gpx.decodeGpx)
        .select(col("doc_id"), col("trace_name"), col("n_points"),
          col("lat_micro_sum"), col("lon_micro_sum"))
    }),
    QuerySpec("q_kml_trace",
      """SELECT doc_id,
         'route ' || CAST(doc_id % 40 AS VARCHAR) AS trace_name,
         CAST(3 + doc_id % 5 AS INTEGER) AS n_points,
         CAST((3 + doc_id % 5) * (10000000 + doc_id % 1000000)
           + 1000 * ((2 + doc_id % 5) * (3 + doc_id % 5) / 2)
           AS BIGINT) AS lat_micro_sum,
         CAST(-((3 + doc_id % 5) * (20000000 + doc_id % 2000000)
           + 1000 * ((2 + doc_id % 5) * (3 + doc_id % 5) / 2))
           AS BIGINT) AS lon_micro_sum
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val kml = Gpx.synthGeo(d, "doc_id", "content", kml = true)
      Multimodal.decodeBatches(kml, "content",
          Gpx.traceSchema)(Gpx.decodeKml)
        .select(col("doc_id"), col("trace_name"), col("n_points"),
          col("lat_micro_sum"), col("lon_micro_sum"))
    }),
    // ----- format sniffing by magic bytes (the dispatch layer —
    // declared content-types lie at scale): 22 formats through the
    // repo's own writers, incl. the zip-interior disambiguation of
    // docx/xlsx/pptx/odt/epub vs plain zip, the CFB legacy-Office
    // subtype walk, feed-dialect XML roots, and the magic-less
    // SRT/notebook shape checks
    QuerySpec("q_sniff_format",
      // the planted mode→label mapping replayed as a CASE
      """SELECT doc_id,
         CASE doc_id % 22
           WHEN 0 THEN 'application/pdf'
           WHEN 1 THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
           WHEN 2 THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
           WHEN 3 THEN 'application/vnd.openxmlformats-officedocument.presentationml.presentation'
           WHEN 4 THEN 'application/vnd.oasis.opendocument.text'
           WHEN 5 THEN 'application/epub+zip'
           WHEN 6 THEN 'application/rtf'
           WHEN 7 THEN 'message/rfc822'
           WHEN 8 THEN 'application/gzip'
           WHEN 9 THEN 'application/x-tar'
           WHEN 10 THEN 'image/png'
           WHEN 11 THEN 'image/jpeg'
           WHEN 12 THEN 'application/zip'
           WHEN 13 THEN 'application/mbox'
           WHEN 15 THEN 'application/x-ipynb+json'
           WHEN 16 THEN 'application/x-subrip'
           WHEN 17 THEN 'text/vtt'
           WHEN 18 THEN 'application/rss+xml'
           WHEN 19 THEN 'application/atom+xml'
           WHEN 20 THEN 'application/vnd.ms-excel'
           WHEN 21 THEN 'application/vnd.ms-powerpoint'
           ELSE 'text/plain' END AS format
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 22).cast("int").as("__m"))
      val payloads = Sniff.synthFormats(d, "doc_id", "__t", "__m",
        "content")
      Multimodal.decodeBatches(payloads, "content",
          Sniff.sniffSchema)(Sniff.decodeSniff)
        .select(col("doc_id"), col("format"))
    }),
    // ----- email (RFC 5322 + MIME): planted text through single-part
    // quoted-printable, multipart/mixed base64 (+ ignored html
    // sibling), and nested multipart/alternative (last-wins) —
    // subject through RFC 2047 B/Q encoded-words
    QuerySpec("q_eml_text",
      // subject replays arithmetically; body is identity text;
      // n_parts = 1 in every mode (alternative picks ONE rendering)
      """SELECT doc_id,
         'Re: doc ' || doc_id || ' résumé' AS subject,
         COALESCE(text, '') AS text,
         CAST(1 AS INTEGER) AS n_parts
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val eml = Mime.synthEml(d, "doc_id", "__t", "__m", "content")
      Multimodal.decodeBatches(eml, "content",
          Mime.emlTextSchema)(Mime.decodeEmlText)
        .select(col("doc_id"), col("subject"),
          col("eml_text").as("text"), col("n_parts"))
    }),
    // ----- EPUB text: the container.xml → OPF → spine navigation
    // chain in READING order (mode 1 stores chapters in reverse zip
    // order + script/style decoys — spine order must win)
    QuerySpec("q_epub_text",
      // chapters join in spine order: doc text then the c2 footer
      """SELECT doc_id,
         COALESCE(text, '') || chr(10) || 'c2 ' || doc_id
           AS epub_text,
         CAST(2 AS INTEGER) AS n_docs
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val epub = Docx.synthEpub(d, "doc_id", "__t", "__m", "content")
      Multimodal.decodeBatches(epub, "content",
          Docx.epubTextSchema)(Docx.decodeEpubText)
        .select(col("doc_id"), col("epub_text"), col("n_docs"))
    }),
    // ----- RTF text extraction: control-word parse through plain
    // \uN escapes, \'hh cp1252 bytes + font/color/style tables, and
    // starred/pict decoys with \uc2 double-fallback — doc_id%3
    QuerySpec("q_rtf_text",
      // identity text; n_paras = newline count + 1 (as docx/odt)
      """SELECT doc_id, COALESCE(text, '') AS text,
         CAST(length(COALESCE(text, '')) -
           length(replace(COALESCE(text, ''), chr(10), '')) + 1
           AS INTEGER) AS n_paras
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("__t"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val rtf = Rtf.synthRtf(d, "__t", "__m", "content")
      Multimodal.decodeBatches(rtf, "content",
          Rtf.rtfTextSchema)(Rtf.decodeRtfText)
        .select(col("doc_id"), col("rtf_text").as("text"),
          col("n_paras"))
    })
  )
}
