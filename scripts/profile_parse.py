"""cProfile of the parse kernel, no JVM: perfbench's ``kernel_turns_per_s``
over ``n_turns`` of a transcripts parquet (default: bench.py's fixture).
Usage: python scripts/profile_parse.py [n_turns] [transcripts.parquet]"""
import cProfile
import os
import pstats
import sys


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import bench
    from layers import kernel_turns_per_s

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    path = sys.argv[2] if len(sys.argv) > 2 else bench.ensure_transcripts(max(20_000, n))
    print(f"plain pass: {kernel_turns_per_s(path, n):,.0f} turns/s single-core")
    prof = cProfile.Profile()
    prof.runcall(kernel_turns_per_s, path, n)
    pstats.Stats(prof).sort_stats("cumulative").print_stats(30)


if __name__ == "__main__":
    main()
