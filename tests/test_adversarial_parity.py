"""Cross-engine parity on the ADVERSARIAL fixture (r11): the standard
sf fixtures carry benign data (ASCII text, valid props JSON, non-zero
embeddings), so the driver's parity gate cannot catch boundary-shape
divergences. tools/make_adversarial_sf.py injects exactly those shapes
— empty/unicode/emoji/RTL text, malformed and non-object props JSON,
all-zero embedding vectors, zero quantities, orphan keys — and this
test runs the full spark-vs-DuckDB comparison over the query subset
that historically diverged there. Findings this pinned at
introduction (all six reliably red before their fixes):

- emb_matryoshka_energy: plain ANSI division crashed on the all-zero
  vector (now try_divide → NULL, matching DuckDB x/0);
- st_props_variant_extract: parse_json threw on malformed props (now
  try_parse_json);
- st_props_json_extract / st_props_schema_audit: the ORACLES threw
  (DuckDB json_extract/json_keys error on garbage; now json_valid
  guards + TRY_CAST, textual mirror of the Spark transforms);
- multimodal_feature_extract / multimodal_frame_stats: oracles sliced
  CHARACTERS/codepoints where Spark slices UTF-8 BYTES (now hex-pair
  byte parsing — the audio_stats ADVICE-fix class).

The full-registry adversarial sweep stays a tool run
(python tools/check_parity.py --sf-dir /tmp/adversarial_sf — ~18 min); this
test keeps the known-divergence-prone subset in the suite (~1 min).
"""

from __future__ import annotations

import pytest

# queries over corpus text bytes, props JSON, or embedding norms —
# the three data axes the adversarial fixture perturbs
ADVERSARIAL_PRONE = [
    "emb_matryoshka_energy",
    "st_props_variant_extract",
    "st_props_json_extract",
    "st_props_schema_audit",
    "multimodal_feature_extract",
    "multimodal_frame_stats",
    "multimodal_audio_stats",
    "multimodal_binary_meta",
    "multimodal_image_dhash_dedup",
    "dedup_embedding_cosine",
    "text_char_entropy",
    # r12: the NULL-text row found five more (all red before fix) —
    # concat_ws('' on NULL array) in the bag fingerprint, Spark
    # to_json dropping null fields, DuckDB least() ignoring NULL,
    # and DuckDB list_distinct stripping NULL bit lists to [] in
    # both Bloom probes
    "text_fingerprint",
    "t5_to_json",
    "multimodal_resize_stats",
    "bloom_filter_probe",
    "sketch_bloom_fpp_curve",
    # r13: the degenerate-sessions axis (same-instant event pile-up,
    # exact +/-1s gap straddles, NULL-vs-empty props) found the
    # cogrouped asof leaking a same-timestamp-but-later view (fixed:
    # lexicographic (ts, event_id) rank key); these pin the whole
    # session/asof family over the new rows
    "join_cogrouped_asof",
    "sessionize_events",
    "sessionize_session_stats",
    "funnel_time_to_convert",
    "window_session_30m",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory):
    from make_adversarial_sf import build

    out = str(tmp_path_factory.mktemp("adv") / "sf")
    return build(out)


@pytest.mark.parametrize("name", ADVERSARIAL_PRONE)
def test_adversarial_parity(spark, adv_dir, name):
    from wiki_data_pipeline_spark.testing import compare_query

    res = compare_query(spark, name, adv_dir)
    assert res.ok, f"{name} diverged on adversarial data: {res.details[:3]}"
