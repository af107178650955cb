"""Self-test of the output checks: they pass on real output and fail once
one sink is corrupted.

    python3 perfbench/selftest.py

Runs each entry point once on a tiny generated input, checks the output,
then damages one sink (drops one row of the errors route) and expects
the same check to report it. Exits 0 when every check behaved.
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def drop_one_row(path: str) -> None:
    """Rewrite the first data file under ``path`` without its first row."""
    import pyarrow.parquet as pq

    victim = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))[0]
    pq.write_table(pq.read_table(victim).slice(1), victim)


def main() -> int:
    run.prepare()
    work = common.WORK
    fixture = gen.write_dataset(os.path.join(work, "input"), 7, 2_000, 80, 0.05)
    tpq = gen.transcripts_glob(fixture)
    results: list[tuple[str, bool]] = []

    def expect(name: str, errors: list[str], want_fail: bool) -> None:
        ok = bool(errors) == want_fail
        results.append((name, ok))
        print(f"{'ok  ' if ok else 'BAD '} {name}: {errors[:2] if errors else 'no mismatch'}")

    spark = common.start_spark("perfbench-selftest")
    try:
        exp = oracle.expected(tpq)
        ckpt = os.path.join(work, "ckpt")
        workloads._flagship_pass(spark, fixture, ckpt)
        expect("flagship output", oracle.check_flagship(ckpt, exp), False)
        drop_one_row(os.path.join(ckpt, "sink_errors"))
        expect("flagship, one sink_errors row dropped", oracle.check_flagship(ckpt, exp), True)

        import tracing

        cexp = oracle.expected(tpq, "role <> 'system'")
        _, outputs = workloads._config_pass(
            spark, tracing.collector_config(fixture, os.path.join(work, "cfg")))
        expect("collector_config output", oracle.check_config(outputs, cexp), False)
        drop_one_row(outputs["file/errors"])
        expect("collector_config, one file/errors row dropped",
               oracle.check_config(outputs, cexp), True)

        files = workloads._stage_files(os.path.join(work, "stage"), 7, 4, "s")
        names = [os.path.basename(f) for f in files]
        sexp = oracle.expected(files)
        workloads._drain(spark, fixture, files, "stream")
        emitted = [os.path.join(work, "stream_in", n) for n in names]
        out = os.path.join(work, "stream_out")
        bad = oracle.check_stream(out, emitted, sexp)
        expect("streaming_flagship output", bad, False)
        drop_one_row(os.path.join(out, "sinks", "batch_id=0", "route=errors"))
        bad = oracle.check_stream(out, emitted, sexp)
        expect("streaming_flagship, one errors-route row dropped", bad, True)
    finally:
        common.stop_spark(spark)
        common.rmtree(work)
    failed = [n for n, ok in results if not ok]
    print(f"selftest: {len(results) - len(failed)}/{len(results)} checks behaved")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
