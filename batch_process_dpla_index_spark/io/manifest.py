"""_MANIFEST provenance files (ManifestWriter.scala:7-14 semantics).

Sorted ``key: value`` lines, one generation timestamp injected under
the reference's own key name.
"""

from __future__ import annotations

import os


def build_manifest(opts: dict[str, str], timestamp: str | None = None) -> str:
    from batch_process_dpla_index_spark.io.paths import iso_timestamp

    merged = dict(opts)
    merged["Start date/time of file generation"] = timestamp or iso_timestamp()
    return "\n".join(f"{k}: {v}" for k, v in sorted(merged.items()))


def write_manifest(opts: dict[str, str], out_dir: str, timestamp: str | None = None) -> str:
    from batch_process_dpla_index_spark.io.sinks import write_local

    return write_local(out_dir, "_MANIFEST", build_manifest(opts, timestamp))


def parse_manifest(text: str) -> dict[str, str]:
    out = {}
    for line in text.splitlines():
        if ": " in line:
            k, v = line.split(": ", 1)
            out[k] = v
    return out


def read_manifest(out_dir: str) -> dict[str, str]:
    """Read back a manifest through the carrier seam (io/fs.py), so it
    comes from the same backend :func:`write_manifest` put it on."""
    from batch_process_dpla_index_spark.io.fs import get_fs, strip_scheme

    key = os.path.join(strip_scheme(out_dir), "_MANIFEST")
    return parse_manifest(get_fs(out_dir).read(key))
