"""Per-layer probes run by the traced run after a workload's timed
work: the segment codec (``decode_segment`` over the ``.events`` files
the workload produced, ``encode_event`` over its own events) and the
glob matcher (``namespace_matches`` over its own namespaces)."""

from __future__ import annotations

import time


def segment_and_glob(ctx, data_dir: str, sample, namespaces, glob: str, n_expected: int) -> None:
    """``sample``: (partition, namespace, body) events; ``n_expected``:
    how many events the files under ``data_dir`` must hold."""
    from flo_spark.functions.glob import namespace_matches
    from flo_spark.sources.flo_segment import decode_segment, encode_event, list_segment_files

    tr, res = ctx.tracer, ctx.result
    files = [p for entries in list_segment_files(data_dir).values() for _n, p in entries]
    total_bytes, n_decoded, decode_s = 0, 0, 0.0
    for p in files:
        with open(p, "rb") as f:
            buf = f.read()
        t0 = time.perf_counter()
        with tr.span("sources.flo_segment", "decode_segment"):
            n_decoded += sum(1 for _ in decode_segment(buf))
        decode_s += time.perf_counter() - t0
        total_bytes += len(buf)
    res.check(
        n_decoded == n_expected,
        f"decode_segment found {n_decoded} events in {data_dir}, expected {n_expected}",
    )
    t0 = time.perf_counter()
    with tr.span("sources.flo_segment", "encode_event"):
        for i, (part, ns, body) in enumerate(sample):
            encode_event(i + 1, part, None, None, 1_700_000_000_000, ns, body)
    encode_s = time.perf_counter() - t0
    reps = 200
    t0 = time.perf_counter()
    with tr.span("functions.glob", "namespace_matches"):
        for _ in range(reps):
            for ns in namespaces:
                namespace_matches(glob, ns)
    match_s = time.perf_counter() - t0

    L = res.layer
    L["sources.flo_segment.decode_mb_s"] = (total_bytes / 1e6 / decode_s, "MB/s")
    L["sources.flo_segment.encode_us"] = (encode_s / len(sample) * 1e6, "us")
    L["sources.flo_segment.bytes_per_event"] = (total_bytes / max(1, n_decoded), "B")
    L["sources.flo_segment.segments"] = (len(files), "count")
    L["functions.glob.match_us"] = (match_s / (reps * len(namespaces)) * 1e6, "us")
