import os

import cputime


def stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields after the command name: state, ppid, 9 fields, utime, stime,
    # cutime, cstime, then the rest of the line
    mid = " ".join(["0"] * 9)
    return f"{pid} ({comm}) S {ppid} {mid} {utime} {stime} {cutime} {cstime} 20 0 1 0"


def test_parse_stat_with_odd_command_names():
    t = cputime.TICK_S
    assert cputime.parse_stat(stat_line(7, "java", 1, 100, 50)) == (7, 1, 150 * t)
    # a name may hold spaces and ')'
    pid, ppid, cpu = cputime.parse_stat(stat_line(9, "a) b (c", 7, 3, 4, 5, 6))
    assert (pid, ppid) == (9, 7) and abs(cpu - 18 * t) < 1e-12


def test_tree_sums_the_root_and_every_descendant_only():
    stats = [(1, 0, 100.0), (10, 1, 1.0), (11, 10, 2.0), (12, 11, 4.0),
             (13, 10, 8.0), (20, 1, 16.0)]
    assert cputime.tree_cpu_s(10, stats) == 15.0
    assert cputime.tree_cpu_s(12, stats) == 4.0
    assert cputime.tree_cpu_s(99, stats) == 0.0


def test_own_process_reads_from_proc():
    own = cputime.tree_cpu_s(os.getpid())
    assert own >= 0.0
    with open(f"/proc/{os.getpid()}/stat") as f:
        assert cputime.parse_stat(f.read())[0] == os.getpid()
