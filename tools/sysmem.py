"""Memory settings derived from this machine's MemTotal."""


def duckdb_memory_limit():
    """DuckDB `memory_limit` for the oracle tools: half of MemTotal, at
    least 1 GB. The tools run DuckDB after the Spark JVM has exited, so
    the two never hold memory at the same time."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4GB"
    return f"{max(1024, kb // 2048)}MB"
