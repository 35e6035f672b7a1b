"""Round-11 analytics plans.

``edf_range_decode`` puts the record-aligned slice arithmetic of the EDF
source (sources/edf.py) under the driver's value oracle: per distinct
user a complete single-signal EDF file is synthesized from deterministic
field values, the PRODUCTION ``parse_edf_header`` → ``ranges_from_header``
→ ``_decode_block`` chain splits it into 4-record slices and decodes every
slice, and the oracle reproduces sample count, value sum, timestamp
bounds, and slice count arithmetically.  Any drift in the range math
(overlapping or skipped records shift ``sum_value``/``n_samples``), the
global-index timestamp formula (shifts ``t_max_usec``), or the
calibration constants reds the row.  The filesystem half of the path
(pyarrow.fs range reads, task spread) is pinned by tests/test_edf_ranges.py.
"""

from __future__ import annotations

from processor_edf_spark.plans.registry import load, register

# datetime(2011, 1, 2, 12, 30, 0, UTC) — the fixture start instant.
_START_USEC = 1_293_971_400_000_000

# samples/record alternatives: every one divides 1e6 exactly, so the
# contiguous timestamp step (1e6/rate µs) is integral and the oracle
# needs no float rounding model.
_NR0 = (100, 125, 160, 200, 250)


@register(
    "edf_range_decode",
    f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    p AS (
        SELECT user_id,
               CASE user_id % 5
                    WHEN 0 THEN 100 WHEN 1 THEN 125 WHEN 2 THEN 160
                    WHEN 3 THEN 200 ELSE 250 END AS nr0,
               6 + user_id % 10 AS nb_rec
        FROM u
    )
    SELECT p.user_id,
           CAST((p.nb_rec + 3) // 4 AS BIGINT) AS n_ranges,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM((p.user_id * 7 + r.j * 13) % 4096 - 2048) AS BIGINT)
               AS sum_value,
           CAST({_START_USEC} AS BIGINT) AS t_min_usec,
           CAST({_START_USEC}
                + (p.nr0 * p.nb_rec - 1) * (1000000 // p.nr0) AS BIGINT)
               AS t_max_usec
    FROM p, range(0, 3750) r(j)
    WHERE r.j < p.nr0 * p.nb_rec
    GROUP BY p.user_id, p.nr0, p.nb_rec
    """,
)
def edf_range_decode(spark, sf_dir):
    """Slice-planned EDF decode under the value oracle (S4 via
    sources/edf.py; reference whole-file semantics
    processor/edf_processor/edf.py:56-76).  Calibration is fixed at
    gain=1/bias=0 (phy==dig range) so decoded values equal the written
    digital samples exactly, and the sample pattern
    ``(u·7 + j·13) mod 4096 − 2048`` over the GLOBAL sample index j
    makes any record mis-placement arithmetically visible.  Scale:
    one distinct-shuffle over user_id; synthesis+decode is per-row CPU
    with no data movement — the same decode-heavy/emit-light shape as
    the codec rows."""
    import numpy as np
    import pandas as pd

    (events,) = load(spark, sf_dir, "events")
    # AQE coalesces the tiny distinct shuffle to ONE partition, which
    # serializes the per-user synthesize+decode kernel into a single
    # task (2.98 s at sf0.1 with 31 cores idle).  An explicit-width
    # round-robin repartition is exempt from AQE coalescing and restores
    # the full kernel width; the width is the session's shuffle setting,
    # not a local constant.
    n_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    users = events.select("user_id").distinct().repartition(n_width)

    def gen(batches):
        from processor_edf_spark.sources.edf import (
            _decode_block,
            parse_edf_header,
            ranges_from_header,
        )

        def field(v, w):
            return str(v).ljust(w)[:w].encode()

        for pdf in batches:
            rows = []
            for uid in pdf["user_id"]:
                u = int(uid)
                nr0 = _NR0[u % 5]
                nb_rec = 6 + u % 10
                g = b"".join(
                    [
                        field(0, 8),
                        field(f"P{u}", 80),
                        field(f"R{u}", 80),
                        field("02.01.11", 8),
                        field("12.30.00", 8),
                        field(256 + 256, 8),
                        field("", 44),
                        field(nb_rec, 8),
                        field(1, 8),
                        field(1, 4),
                    ]
                )
                sig = b"".join(
                    [
                        field("sig", 16),
                        field("", 80),
                        field("uV", 8),
                        field(-2048, 8),   # phy_min == dig_min
                        field(2047, 8),    # phy_max == dig_max
                        field(-2048, 8),   # → gain 1.0, bias 0.0
                        field(2047, 8),
                        field("", 80),
                        field(nr0, 8),
                        field("", 32),
                    ]
                )
                n = nr0 * nb_rec
                digital = (
                    (u * 7 + np.arange(n, dtype=np.int64) * 13) % 4096 - 2048
                ).astype("<i2")
                content = g + sig + digital.tobytes()

                h = parse_edf_header(content)  # the REAL parser
                ranges = [
                    r
                    for r in ranges_from_header(
                        h, len(content), slice_bytes=8 * nr0  # 4 records/slice
                    )
                    if r[1]  # slices that own no record decode nothing
                ]
                # fold per-slice batches incrementally (no concat:
                # the stats are associative, and this row is on the
                # bench's hot list — pandas assembly was its cost)
                n_s, s_v, t_lo, t_hi = 0, 0, None, None
                for rec0, n_rec, start_byte, n_bytes in ranges:
                    rec = np.frombuffer(
                        content[start_byte : start_byte + n_bytes], dtype="<i2"
                    ).reshape(n_rec, -1)
                    for part in _decode_block(  # the REAL kernel
                        h, rec, rec0, f"u{u}.edf"
                    ):
                        n_s += len(part)
                        s_v += int(part["value"].sum())
                        lo = int(part["t_usec"].min())
                        hi = int(part["t_usec"].max())
                        t_lo = lo if t_lo is None else min(t_lo, lo)
                        t_hi = hi if t_hi is None else max(t_hi, hi)
                rows.append((u, len(ranges), n_s, s_v, t_lo, t_hi))
            yield pd.DataFrame(
                rows,
                columns=[
                    "user_id",
                    "n_ranges",
                    "n_samples",
                    "sum_value",
                    "t_min_usec",
                    "t_max_usec",
                ],
            )

    return users.mapInPandas(
        gen,
        schema=(
            "user_id long, n_ranges long, n_samples long, "
            "sum_value long, t_min_usec long, t_max_usec long"
        ),
    )


@register(
    "h264_cavlc_decode_stats",
    """
    WITH d AS (
        SELECT doc_id,
               32 AS w,
               32 AS h,
               CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS nf,
               CASE (doc_id // 2) % 3 WHEN 0 THEN 0 WHEN 1 THEN 2
                    ELSE 3 END AS t8_every
        FROM documents
        WHERE doc_id % 2 = 0
    ),
    ysum AS (
        SELECT d.doc_id,
               CAST(SUM((r.j * 3 + c.j * 5 + d.doc_id + f.j * 17) % 160
                        + 40) AS BIGINT) AS y_sum
        FROM d, range(0, 32) r(j), range(0, 32) c(j), range(0, 2) f(j)
        WHERE c.j < d.w AND f.j < d.nf
        GROUP BY d.doc_id
    ),
    csum AS (
        SELECT d.doc_id,
               CAST(SUM((r.j * 7 + c.j * 11 + d.doc_id + f.j * 5) % 100
                        + 78) AS BIGINT) AS u_sum,
               CAST(SUM((r.j * 5 + c.j * 3 + 2 * d.doc_id + f.j * 9) % 120
                        + 60) AS BIGINT) AS v_sum
        FROM d, range(0, 16) r(j), range(0, 16) c(j), range(0, 2) f(j)
        WHERE c.j < d.w // 2 AND f.j < d.nf
        GROUP BY d.doc_id
    )
    SELECT d.doc_id,
           CAST(d.nf AS BIGINT) AS n_frames,
           CAST(d.w AS BIGINT) AS width,
           CAST(d.h AS BIGINT) AS height,
           CAST(d.t8_every AS BIGINT) AS t8_every,
           ysum.y_sum, csum.u_sum, csum.v_sum
    FROM d JOIN ysum USING (doc_id) JOIN csum USING (doc_id)
    """,
)
def h264_cavlc_decode_stats(spark, sf_dir):
    """The entropy-coded H.264 intra path (CAVLC + 4x4/16x16
    prediction, operators/h264.py r11) as a driver-hashed row — the
    fifth codec row, and the first LOSSY one under the value oracle.
    Per document a deterministic YUV420 source (every plane a pure
    integer function of doc_id) is encoded to a real Annex-B CAVLC
    bitstream at a doc-dependent QP (20/28/36 — all three dequant
    shift regimes), decoded back through the production
    ``decode_h264_ipcm``, and the decode is required BIT-EXACT against
    the encoder's reconstruction loop with the recon-vs-source error
    inside the quantisation bound.  Only then does the row emit the
    closed-form SOURCE plane sums the oracle reproduces — any CAVLC
    table slip, prediction bug, transform/dequant drift, or geometry
    error flips the row to the -1 sentinel (or changes dims) and reds
    it.  Frame geometry is fixed 32x32 (4 macroblocks; the oracle's
    plane sums assume w=32): the deterministic macroblock-kind mix
    ``(mb*5 + f_idx) % 7`` covers I_NxN and I_16x16 in every frame
    and reaches I_PCM (kind 6) only on the SECOND frame of the
    two-frame docs — every 7th document encodes two frames (IDR
    boundary + frame-kind shift), so I_PCM coverage rides that subset;
    single-frame docs exercise the CAVLC-coded kinds only.
    Scale: decode-heavy/emit-light, payload never leaves the executor;
    pure-python kernel (~20 ms/doc) spread() across the session width
    like the sibling codec rows."""
    import pandas as pd

    (docs,) = load(spark, sf_dir, "documents")
    from processor_edf_spark.plans.registry import spread

    docs = spread(
        spark, docs.select("doc_id").filter("doc_id % 2 = 0")
    )

    def gen(batches):
        import numpy as np

        from processor_edf_spark.operators.h264 import (
            decode_h264_ipcm,
            encode_h264_cavlc_recon,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                W, H = 32, 32
                nf = 2 if d % 7 == 0 else 1
                qp = 20 + (d % 3) * 8
                # r14 continuation: sweep the High-profile 8x8
                # transform path (0 = baseline 4x4-only stream)
                t8_every = (0, 2, 3)[(d // 2) % 3]
                frames = []
                for f in range(nf):
                    r = np.arange(H)[:, None]
                    c = np.arange(W)[None, :]
                    y = (((r * 3 + c * 5 + d + f * 17) % 160) + 40).astype(
                        np.uint8
                    )
                    r2 = np.arange(H // 2)[:, None]
                    c2 = np.arange(W // 2)[None, :]
                    u = (((r2 * 7 + c2 * 11 + d + f * 5) % 100) + 78).astype(
                        np.uint8
                    )
                    v = (
                        ((r2 * 5 + c2 * 3 + 2 * d + f * 9) % 120) + 60
                    ).astype(np.uint8)
                    frames.append((y, u, v))
                stream, recons = encode_h264_cavlc_recon(
                    frames, W, H, qp=qp, t8_every=t8_every
                )
                dw, dh, decoded = decode_h264_ipcm(stream)
                bit_exact = (
                    (dw, dh) == (W, H)
                    and len(decoded) == nf
                    and all(
                        np.array_equal(a, b)
                        for rec, dec in zip(recons, decoded)
                        for a, b in zip(rec, dec)
                    )
                )
                err_ok = all(
                    int(
                        np.abs(
                            rec[0].astype(np.int64)
                            - frm[0].astype(np.int64)
                        ).max()
                    )
                    <= (64 if not t8_every else 160)
                    for rec, frm in zip(recons, frames)
                )
                if bit_exact and err_ok:
                    sums = [
                        int(sum(np.sum(frm[k], dtype=np.int64)
                                for frm in frames))
                        for k in range(3)
                    ]
                else:
                    sums = [-1, -1, -1]
                rows.append(
                    (d, len(decoded), dw, dh, t8_every, *sums)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "width", "height",
                    "t8_every", "y_sum", "u_sum", "v_sum",
                ],
            )

    return docs.mapInPandas(
        gen,
        schema=(
            "doc_id long, n_frames long, width long, height long, "
            "t8_every long, y_sum long, u_sum long, v_sum long"
        ),
    )
