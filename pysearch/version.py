__version__ = "0.1.0"

# Bump when analyzer/codec semantics change; stored in the index manifest so
# a resumed build refuses to mix incompatible segments.
INDEX_FORMAT_VERSION = 4  # v4: per-case sum_dl in the manifest's
# finalize entry replaces the per-case stats table; v3: optional index-side term
# positions (pos_bin/pos_crc32 block columns + token-offset sidecar columns
# on docs); v2: posting blocks carry a precomputed n_bytes
