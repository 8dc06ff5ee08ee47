"""The monitor's RSS sum counts each address space once: a child that
shares its parent's memory (a process launcher between clone(CLONE_VM)
and exec) adds nothing."""

import ctypes
import os
import signal
import time

import pytest

from audiopro_essentia_spark import monitor

CLONE_VM = 0x100


@pytest.mark.skipif(monitor._libc is None, reason="kcmp is Linux-only")
def test_rss_counts_a_shared_address_space_once():
    libc = ctypes.CDLL(None, use_errno=True)
    # touch 256 MB so that a double count would stand out
    ballast = b"\1" * (256 << 20)
    before = monitor._rss_gb()

    # the child runs libc's sleep() on its own stack in this process's
    # memory: no Python code runs in it, so the interpreter is never shared
    stack = ctypes.create_string_buffer(1 << 16)
    top = ctypes.c_void_p(ctypes.addressof(stack) + len(stack))
    fn = ctypes.cast(libc.sleep, ctypes.c_void_p)
    libc.clone.argtypes = [ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int, ctypes.c_void_p]
    pid = libc.clone(fn, top, CLONE_VM | signal.SIGCHLD, ctypes.c_void_p(30))
    if pid <= 0:
        pytest.skip(f"clone failed: errno {ctypes.get_errno()}")
    try:
        for _ in range(100):  # until the child is listed
            if os.path.exists(f"/proc/{pid}/status"):
                break
            time.sleep(0.01)
        assert monitor._shares_vm(str(pid), str(os.getpid()))
        during = monitor._rss_gb()
    finally:
        os.kill(pid, signal.SIGKILL)
        os.waitpid(pid, 0)
    del ballast
    assert during < before + 0.1, (before, during)
    assert before > 0.25
