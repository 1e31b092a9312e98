"""Operator library — the engine's relational + [EXT] surface.

Modules:
- transforms  — projections / filters / casts / null-normalization (SURVEY §2.3)
- joins       — broadcast dim joins, anti/semi upsert semantics, as-of join (§2.4)
- aggregates  — counts, per-key max, OHLCV, rolling frames, top-k (§2.5, §2.6)
- dedup       — exact + near-duplicate detection at scale ([EXT] X1/X2)
- similarity  — embedding similarity search ([EXT] X2)
- text        — language-ID, quality scoring, tokenization, fingerprints ([EXT] X3)
- multimodal  — opaque binary columns + typed metadata, batched feature
                extraction (fake / PPM / WAV decoders) ([EXT] X4)
- layout      — Z-order (Morton curve) clustered parquet writes ([EXT])
- sketches    — Misra-Gries heavy hitters with an exact verify pass ([EXT])
"""
