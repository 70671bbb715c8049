"""Drop-in CLI parity with the reference binary.

Reference: ``mapred_woc <filename> <num_threads>`` (src/main.c:53-70).
Here: ``python -m mapreducewordoccurences_spark.cli <filename>
[num_threads]`` — num_threads is accepted for compatibility but Spark
owns parallelism; when given it seeds local-mode core count.

Exit-code contract (verified against the reference, FIXTURES.md):
- wrong argc / non-positive thread count → usage on stderr, exit 1
  (src/main.c:55-70)
- empty (0-byte) input file → error on stderr, exit 1 (src/main.c:90-94)
- separator-only input → empty output, exit 0
- success → sorted ``word=count`` lines on stdout, nothing else

The collect-to-driver print is CLI-parity only: distinct-word output is
small, and ``count_words`` sorts it in one ordered output partition.
Library users at scale should write ``count_words(..., sort=False)``
results with a DataFrame writer (``df.write``) instead.
"""

from __future__ import annotations

import os
import sys


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) not in (1, 2):
        print(
            "usage: mapred_woc <filename> [num_threads]",
            file=sys.stderr,
        )
        return 1
    path = argv[0]
    num_threads = 0
    if len(argv) == 2:
        try:
            num_threads = int(argv[1])
        except ValueError:
            num_threads = -1
        if num_threads <= 0:
            print("num_threads must be a positive integer", file=sys.stderr)
            return 1

    if not os.path.exists(path):
        print(f"error: cannot open file {path}", file=sys.stderr)
        return 1
    if os.path.getsize(path) == 0:
        # Reference treats an empty file as an error (src/main.c:90-94).
        print(f"error: file {path} is empty", file=sys.stderr)
        return 1

    from mapreducewordoccurences_spark.core import count_words_in_file, format_kv_lines
    from mapreducewordoccurences_spark.session import get_spark

    master = f"local[{num_threads}]" if num_threads else "local[*]"
    spark = get_spark("mapred_woc", master=master)
    try:
        lines = format_kv_lines(count_words_in_file(spark, path))
        for row in lines.toLocalIterator():
            print(row["line"])
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
