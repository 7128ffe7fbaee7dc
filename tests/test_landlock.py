"""Landlock filesystem-confinement layer (reference policy.py:242-508)
+ the sandbox attestation records (policy.py:28-74).

This container's kernel returns ENOSYS for the landlock syscalls, so
the DEGRADE path is the one tested for real here (exactly the
environment-gate discipline used for the optional sftp client); the enforcement
tests run wherever ``landlock_available()`` is true."""

from __future__ import annotations

import os
import sys

import pytest

from strake_spark import landlock as LL


class TestMasks:
    def test_abi1_strips_newer_rights(self):
        m = LL.handled_mask(1)
        assert not m & LL.FS_REFER
        assert not m & LL.FS_TRUNCATE
        assert not m & LL.FS_IOCTL_DEV
        assert m & LL.FS_READ_FILE and m & LL.FS_WRITE_FILE

    def test_abi_progression(self):
        assert LL.handled_mask(2) & LL.FS_REFER
        assert not LL.handled_mask(2) & LL.FS_TRUNCATE
        assert LL.handled_mask(3) & LL.FS_TRUNCATE
        assert LL.handled_mask(5) & LL.FS_IOCTL_DEV

    def test_read_mask_is_read_only(self):
        r = LL.read_mask(3)
        assert r == (LL.FS_EXECUTE | LL.FS_READ_FILE | LL.FS_READ_DIR)
        assert not r & LL.FS_WRITE_FILE

    def test_template_mask_matches_module_mask(self):
        # the prelude snippet re-derives the mask with a baked lambda;
        # it must agree with handled_mask for every ABI we reason about
        mask = eval(LL._MASK_SRC)  # noqa: S307 - our own constant
        for abi in range(1, 7):
            assert mask(abi) == LL.handled_mask(abi), abi


class TestSourceGeneration:
    def test_paths_baked_and_defaults_included(self):
        src = LL.apply_source(("/opt/data",), ("/work",))
        assert "/opt/data" in src and "/work" in src
        for p in ("/usr", "/etc", "/proc/self"):
            assert p in src

    def test_degrades_cleanly_on_this_kernel(self):
        """exec the real prelude snippet in a fork: on an ENOSYS kernel
        _LANDLOCK_OK must be False and the process must be unharmed; on
        a landlock kernel it must be True."""
        if sys.platform != "linux":
            pytest.skip("linux prelude")
        pid = os.fork()
        if pid == 0:
            ns: dict = {}
            exec(LL.apply_source((), ("/tmp",)), ns)  # noqa: S102
            os._exit(0 if ns.get("_LANDLOCK_OK") == LL.landlock_available() else 1)
        _, status = os.waitpid(pid, 0)
        assert os.waitstatus_to_exitcode(status) == 0


@pytest.mark.skipif(not LL.landlock_available(), reason="kernel lacks Landlock")
class TestEnforcement:
    def test_write_outside_workspace_denied(self, tmp_path):
        """Full enforcement: reads allowed, writes confined to the
        workspace. Runs only on Landlock-enabled kernels."""
        code = f"""
import os
ns = {{}}
exec({LL.apply_source((), (str(tmp_path),))!r}, ns)
assert ns["_LANDLOCK_OK"]
open({str(tmp_path)!r} + "/ok.txt", "w").write("x")   # inside: allowed
try:
    open("/root/forbidden.txt", "w")
    raise SystemExit(2)                                # outside: must fail
except PermissionError:
    pass
open("/etc/hostname").read()                           # read: allowed
"""
        pid = os.fork()
        if pid == 0:
            exec(code)  # noqa: S102
            os._exit(0)
        _, status = os.waitpid(pid, 0)
        assert os.waitstatus_to_exitcode(status) == 0


class TestSandboxAttestation:
    def test_run_python_attaches_attestation(self):
        from strake_spark.sandbox import run_python

        res = run_python("print('hi')")
        assert res.ok and res.stdout.strip() == "hi"
        att = res.attestation
        assert att is not None
        assert "rlimits" in att.constraints_applied
        if sys.platform == "linux":
            assert "seccomp" in att.constraints_applied
            assert "landlock" in att.constraints_applied
        # ENOSYS kernel -> no ABI recorded; landlock kernel -> >= 1
        if LL.landlock_available():
            assert att.landlock_abi_version >= 1
        else:
            assert att.landlock_abi_version is None

    def test_sign_is_deterministic_over_payload(self):
        from strake_spark.sandbox import SandboxAttestation

        a = SandboxAttestation("sb1", ["rlimits", "seccomp"], 123.0, None)
        b = SandboxAttestation("sb1", ["rlimits", "seccomp"], 123.0, None)
        c = SandboxAttestation("sb1", ["rlimits"], 123.0, None)
        assert a.sign() == b.sign()
        assert a.sign() != c.sign()

    def test_scoped_token_binds_to_sandbox(self):
        from strake_spark.sandbox import ScopedToken

        t = ScopedToken("tok", "sb1", {"sub": "alice"})
        assert t.is_valid_for("sb1")
        assert not t.is_valid_for("sb2")

    def test_sandbox_still_runs_scripts_with_landlock_layer(self):
        # regression: the new prelude layer must not break the shim
        from strake_spark.sandbox import run_python

        res = run_python("import pandas as pd\nprint(pd.DataFrame({'a':[1]}).a.sum())")
        assert res.ok, res.stderr
        assert res.stdout.strip() == "1"
