"""Landlock filesystem confinement for the Code-Mode sandbox.

Reference: python/strake/policy.py:242-508 — the sandbox's filesystem
layer: an unprivileged Landlock ruleset granting read(+execute) on a
small system allowlist and read-write only beneath the sandbox
workspace; everything else returns EACCES. Re-expressed in this repo's
seccomp.py house pattern: pure-python builders testable anywhere, an
``apply_source()`` prelude snippet inlined into the sandboxed child
(which runs under ``-I`` with no access to this package), and a
fork-probe availability check.

ABI degradation follows the reference's fallthrough: the handled
access mask includes every right up to the detected ABI and strips
REFER (<2), TRUNCATE (<3) and IOCTL_DEV (<5); the ruleset attr is
passed as the MINIMAL 8-byte struct (handled_access_fs only), which
every ABI version accepts — network confinement stays with the netns
+ seccomp layers, as in the reference ("network is handled by
seccomp").

Environment gate: Landlock needs kernel CONFIG_SECURITY_LANDLOCK with
the LSM active; this container returns ENOSYS, so enforcement is
probe-gated exactly like the optional sftp client — the degrade path (apply fails,
sandbox keeps its rlimits/netns/seccomp hardening) is the path THIS
environment exercises for real, and the enforcement tests skip unless
``landlock_available()``.
"""

from __future__ import annotations

import sys

# landlock syscall numbers are identical across architectures
# (post-unification table): create_ruleset/add_rule/restrict_self
SYS_CREATE_RULESET = 444
SYS_ADD_RULE = 445
SYS_RESTRICT_SELF = 446

LANDLOCK_CREATE_RULESET_VERSION = 1
LANDLOCK_RULE_PATH_BENEATH = 1

# filesystem access rights (linux/landlock.h)
FS_EXECUTE = 1 << 0
FS_WRITE_FILE = 1 << 1
FS_READ_FILE = 1 << 2
FS_READ_DIR = 1 << 3
FS_REMOVE_DIR = 1 << 4
FS_REMOVE_FILE = 1 << 5
FS_MAKE_CHAR = 1 << 6
FS_MAKE_DIR = 1 << 7
FS_MAKE_REG = 1 << 8
FS_MAKE_SOCK = 1 << 9
FS_MAKE_FIFO = 1 << 10
FS_MAKE_BLOCK = 1 << 11
FS_MAKE_SYM = 1 << 12
FS_REFER = 1 << 13      # ABI >= 2
FS_TRUNCATE = 1 << 14   # ABI >= 3
FS_IOCTL_DEV = 1 << 15  # ABI >= 5

# read(+execute) allowlist every CPython/data-stack child needs
# (policy.py _DEFAULT_READ_PATHS)
DEFAULT_READ_PATHS = (
    "/usr", "/lib", "/lib64", "/etc", "/tmp",
    "/dev/null", "/dev/urandom", "/dev/zero", "/proc/self",
)


def handled_mask(abi: int) -> int:
    """Every right the ruleset declares jurisdiction over, stripped to
    what the detected ABI understands (policy.py:329-356)."""
    mask = (
        FS_EXECUTE | FS_WRITE_FILE | FS_READ_FILE | FS_READ_DIR
        | FS_REMOVE_DIR | FS_REMOVE_FILE | FS_MAKE_CHAR | FS_MAKE_DIR
        | FS_MAKE_REG | FS_MAKE_SOCK | FS_MAKE_FIFO | FS_MAKE_BLOCK
        | FS_MAKE_SYM | FS_REFER | FS_TRUNCATE | FS_IOCTL_DEV
    )
    if abi < 5:
        mask &= ~FS_IOCTL_DEV
    if abi < 3:
        mask &= ~FS_TRUNCATE
    if abi < 2:
        mask &= ~FS_REFER
    return mask


def read_mask(abi: int) -> int:
    return (FS_EXECUTE | FS_READ_FILE | FS_READ_DIR) & handled_mask(abi)


def write_mask(abi: int) -> int:
    """Full rights beneath the workspace: read plus every write-shaped
    right the ABI supports (policy.py:389-410)."""
    return handled_mask(abi)  # read+write+make* — everything declared


def detect_abi() -> int:
    """Kernel's Landlock ABI version, or -1 when unsupported (ENOSYS /
    no LSM / non-linux)."""
    if sys.platform != "linux":
        return -1
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        v = libc.syscall(SYS_CREATE_RULESET, None, 0, LANDLOCK_CREATE_RULESET_VERSION)
        return v if v > 0 else -1
    except Exception:  # noqa: BLE001 - probe only
        return -1


# Prelude snippet for the sandboxed child: installs the ruleset before
# the user script runs. {read_paths!r}/{write_paths!r} substituted by
# the parent. Best-effort like the seccomp snippet: any failure leaves
# the sandbox at its previous hardening level.
APPLY_TEMPLATE = """\
def _apply_landlock(_reads, _writes):
    try:
        import ctypes, os
        libc = ctypes.CDLL(None, use_errno=True)
        abi = libc.syscall(444, None, 0, 1)
        if abi < 1:
            return False
        mask = {mask_src}
        m = mask(abi)
        read = (1 | 4 | 8) & m           # execute|read_file|read_dir
        write = m                        # everything declared
        class _Attr(ctypes.Structure):
            _fields_ = [("handled_access_fs", ctypes.c_uint64)]
        attr = _Attr(m)
        fd = libc.syscall(444, ctypes.byref(attr), ctypes.sizeof(attr), 0)
        if fd < 0:
            return False
        class _Path(ctypes.Structure):
            _pack_ = 1
            _fields_ = [("allowed_access", ctypes.c_uint64),
                        ("parent_fd", ctypes.c_int32)]
        O_PATH, O_CLOEXEC = 0o10000000, 0o2000000
        def _rule(path, access):
            if not os.path.exists(path):
                return True              # absent path: not an error
            pfd = os.open(path, O_PATH | O_CLOEXEC)
            try:
                pa = _Path(access, pfd)
                return libc.syscall(445, fd, 1, ctypes.byref(pa), 0) == 0
            finally:
                os.close(pfd)
        for p in _reads:
            _rule(p, read)
        for p in _writes:
            _rule(p, write)
        libc.prctl(38, 1, 0, 0, 0)       # PR_SET_NO_NEW_PRIVS
        ok = libc.syscall(446, fd, 0) == 0
        os.close(fd)
        return ok
    except Exception:
        return False

_LANDLOCK_OK = _apply_landlock({read_paths!r}, {write_paths!r})
"""

_MASK_SRC = (
    "lambda abi: 0xFFFF & ~((0x8000 if abi < 5 else 0) | "
    "(0x4000 if abi < 3 else 0) | (0x2000 if abi < 2 else 0))"
)


def apply_source(read_paths: tuple[str, ...] | list[str],
                 write_paths: tuple[str, ...] | list[str]) -> str:
    """Prelude snippet confining the child to ``read_paths`` (ro) and
    ``write_paths`` (rw), or '' on non-linux (degrade, don't break)."""
    if sys.platform != "linux":
        return ""
    reads = tuple(dict.fromkeys((*DEFAULT_READ_PATHS, *read_paths)))
    return APPLY_TEMPLATE.format(
        mask_src=_MASK_SRC,
        read_paths=reads,
        write_paths=tuple(write_paths),
    )


def landlock_available() -> bool:
    """Probe (in a throwaway fork) whether a ruleset installs here."""
    import os

    if detect_abi() < 1:
        return False
    pid = os.fork()
    if pid == 0:  # pragma: no cover - child
        ns: dict = {}
        exec(apply_source((), ("/tmp",)), ns)  # noqa: S102 - our own source
        os._exit(0 if ns.get("_LANDLOCK_OK") else 1)
    _, status = os.waitpid(pid, 0)
    return os.waitstatus_to_exitcode(status) == 0
